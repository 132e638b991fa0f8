package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Fixpoint, Tables}
import graft.functions.NativeFunctions

/** LLM-training-data pipeline operators over the driver's `documents`
  * and `embeddings` tables (TESTDATA.md) — deduplication, similarity
  * search, text analysis, fingerprinting. These are the engine's
  * "north star" extensions (SURVEY.md §2.5, §7 phase 5).
  *
  * Design rules for 100 TB (and for exact DuckDB-oracle parity):
  *  - similarity scores are computed on *quantized integer* vectors
  *    (`floor(x*1000)` per element) — integer dot products are exact
  *    and engine-independent, and int8/int16 quantization is the
  *    standard memory-bandwidth optimization in real ANN systems;
  *  - near-dup detection is banded MinHash-LSH: the only shuffle is
  *    a group-by on (band, band-hash) buckets; candidate pairs are
  *    generated strictly within buckets — never an all-pairs join;
  *  - all derived metrics are integers (scaled by 100/1000 + floor)
  *    so cross-engine float formatting can never flip a comparison.
  */
object LlmQueries {

  private val ws = "\\s+" // tokenizer: whitespace runs

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_exact" -> dedupExact,
    "llm_dedup_priority" -> dedupPriority,
    "llm_shuffle_shards" -> shuffleShards,
    "llm_bpe_pairs" -> bpePairs,
    "llm_bpe_vocab" -> bpeVocab,
    "llm_bpe_apply" -> bpeApply,
    "llm_bpe_incremental" -> bpeIncremental,
    "llm_wordpiece_tokens" -> wordpieceTokens,
    "llm_wordpiece_incremental" -> wordpieceIncremental,
    "llm_unigram_tokens" -> unigramTokens,
    "llm_unigram_vocab" -> unigramVocabTrain,
    "llm_unigram_incremental" -> unigramIncremental,
    "llm_bigram_fluency" -> bigramFluency,
    "llm_dedup_minhash" -> dedupMinhash,
    "llm_lsh_bucket_stats" -> lshBucketStats,
    "llm_ngram_jaccard" -> ngramJaccard,
    "llm_containment" -> containment,
    "llm_dedup_clusters" -> dedupClusters,
    "llm_dedup_keep" -> dedupKeep,
    "llm_dedup_incremental" -> dedupIncremental,
    "llm_exact_incremental" -> exactIncremental,
    "llm_simhash" -> simhash,
    "llm_simhash_neardup" -> simhashNeardup,
    "llm_knn_bruteforce" -> knnBruteforce,
    "llm_ann_buckets" -> annBuckets,
    "llm_ann_topk" -> annTopk,
    "llm_ivf_clusters" -> ivfClusters,
    "llm_ivf_incremental" -> ivfIncremental,
    "llm_ivf_drift" -> ivfDrift,
    "llm_ivf_drift_trend" -> ivfDriftTrend,
    "llm_ivf_topk" -> ivfTopk,
    "llm_ann_recall" -> annRecall,
    "llm_ivf_recall" -> ivfRecall,
    "llm_kmeans_step" -> kmeansStep,
    "llm_kmeans_converged" -> kmeansConverged,
    "llm_semantic_dedup" -> semanticDedup,
    "llm_semdedup_stats" -> semdedupStats,
    "llm_embed_outliers" -> embedOutliers,
    "llm_ivf_kmeans_recall" -> ivfKmeansRecall,
    "llm_minhash_est" -> minhashEst,
    "llm_pq_adc_topk" -> pqAdcTopk,
    "llm_pq_recall" -> pqRecall,
    "llm_pq_codes" -> pqCodes,
    "llm_ivfpq_topk" -> ivfpqTopk,
    "llm_ivfpq_recall" -> ivfpqRecall,
    "llm_ivfpq_incremental" -> ivfpqIncremental,
    "llm_embed_neardup" -> embedNeardup,
    "llm_sample_bottomk" -> sampleBottomK,
    "llm_sample_weighted" -> sampleWeighted,
    "llm_warc_records" -> warcRecords,
    "llm_warc_ingest" -> warcIngest,
    "llm_warc_gz" -> warcGz,
    "llm_sample_stratified" -> sampleStratified,
    "llm_mix_sample" -> mixSample,
    "llm_passage_dedup" -> passageDedup,
    "llm_term_filter" -> termFilter,
    "llm_distinctive_terms" -> distinctiveTerms,
    "llm_bm25_topk" -> bm25TopK,
    "llm_bm25_incremental" -> bm25Incremental,
    "llm_kmv_distinct" -> kmvDistinct,
    "llm_hll_distinct" -> hllDistinct,
    "llm_kmv_incremental" -> kmvIncremental,
    "llm_kmv_intersect" -> kmvIntersect,
    "llm_novelty" -> novelty,
    "llm_dup_spans" -> dupSpans,
    "llm_span_dedup_keep" -> spanDedupKeep,
    "llm_span_incremental" -> spanIncremental,
    "llm_winnow" -> winnow,
    "llm_split_assign" -> splitAssign,
    "llm_split_leakage" -> splitLeakage,
    "llm_length_buckets" -> lengthBuckets,
    "llm_source_overlap" -> sourceOverlap,
    "llm_text_stats" -> textStats,
    "llm_quality_filter" -> qualityFilter,
    "llm_quality_score" -> qualityScore,
    "llm_quality_stump" -> qualityStump,
    "llm_quality_boosted" -> qualityBoosted,
    "llm_quality_boosted_score" -> qualityBoostedScore,
    "llm_lang_stats" -> langStats,
    "llm_fingerprint" -> fingerprint,
    "llm_decontaminate" -> decontaminate,
    "llm_decontam_keep" -> decontamKeep,
    "llm_decontam_bloom" -> decontamBloom,
    "llm_bloom_summary" -> bloomSummary,
    "llm_repetition" -> repetition,
    "llm_pack_sequences" -> packSequences,
    "llm_chunk_windows" -> chunkWindows,
    "llm_source_stats" -> sourceStats,
    "llm_top_bigrams" -> topBigrams,
    "llm_cms_bigrams" -> cmsBigrams,
    "mm_binary_stats" -> binaryStats,
    "mm_frame_sample" -> frameSample,
    "mm_resize_plan" -> resizePlan,
    "mm_image_dims" -> imageDims,
    "mm_gif_dims" -> gifDims,
    "mm_webp_dims" -> webpDims,
    "mm_tiff_dims" -> tiffDims,
    "mm_exif_meta" -> exifMeta,
    "mm_audio_meta" -> audioMeta,
    "mm_audio_float_meta" -> audioFloatMeta,
    "mm_flac_meta" -> flacMeta,
    "mm_flac_pcm" -> flacPcm,
    "mm_flac_fixed" -> flacFixed,
    "mm_flac_lpc" -> flacLpc,
    "mm_flac_stereo" -> flacStereo,
    "mm_flac_wasted" -> flacWasted,
    "mm_ogg_meta" -> oggMeta,
    "mm_ogg_tags" -> oggTags,
    "mm_vorbis_books" -> vorbisBooks,
    "mm_vorbis_vq" -> vorbisVq,
    "mm_vorbis_floor" -> vorbisFloor,
    "mm_vorbis_floor_curve" -> vorbisFloorCurve,
    "mm_mp4_samples" -> mp4Samples,
    "llm_url_canon" -> urlCanon,
    "mm_zstd_frames" -> zstdFrames,
    "mm_vorbis_residue" -> vorbisResidue,
    "mm_vorbis_residue_apply" -> vorbisResidueApply,
    "mm_vorbis_residue_scale" -> vorbisResidueScale,
    "llm_mix_temperature" -> mixTemperature,
    "llm_inflate" -> inflateRoundtrip,
    "llm_zstd_fse" -> zstdFseRoundtrip,
    "llm_zstd_real" -> zstdRealRoundtrip,
    "llm_zstd_dict" -> zstdDictRoundtrip,
    "llm_zstd_split" -> zstdSplitRoundtrip,
    "llm_langid_train" -> langIdTrain,
    "llm_langid_score" -> langIdScore,
    "llm_html_blocks" -> htmlBlocks,
    "llm_text_normalize" -> textNormalize,
    "llm_robots" -> robotsGate,
    "llm_robots_rules" -> robotsRules,
    "mm_flac_tags" -> flacTags,
    "mm_audio_levels" -> audioLevels,
    "mm_audio_widths" -> audioWidths,
    "mm_audio_ulaw" -> audioUlawLevels,
    "mm_audio_alaw" -> audioAlawLevels,
    "mm_audio_fp" -> audioFingerprints,
    "mm_audio_neardup" -> audioNearDup,
    "mm_audio_neardup_incr" -> audioNeardupIncremental,
    "mm_image_levels" -> imageLevels,
    "llm_pii_scrub" -> piiScrub,
    "llm_url_stats" -> urlStats,
    "mm_video_meta" -> videoMeta,
    "mm_avi_meta" -> aviMeta,
    "mm_png_levels" -> pngLevels,
    "mm_png_gray_levels" -> pngGrayLevels,
    "mm_png16_levels" -> png16Levels,
    "mm_png_adam7_levels" -> pngAdam7Levels,
    "mm_jpeg_luma" -> jpegLumaLevels,
    "mm_dhash" -> dhashFingerprints,
    "mm_image_features" -> imageFeatures,
    "mm_feature_knn" -> featureKnn,
    "mm_image_neardup" -> imageNearDup,
    "mm_neardup_incremental" -> imageNeardupIncremental,
    "mm_mp3_meta" -> mp3Meta,
    "mm_mp3_vbr" -> mp3Vbr,
    "mm_mp3_sideinfo" -> mp3SideInfo,
    "mm_mp3_count1" -> mp3Count1,
    "mm_mp3_count1a" -> mp3Count1A,
    "mm_mp3_bigvalues" -> mp3Bigvalues,
    "mm_mp3_part3" -> mp3Part3,
    "mm_h264_cavlc" -> h264Cavlc,
    "mm_h264_cavlc_luma" -> h264CavlcLuma,
    "mm_h264_cavlc_full" -> h264CavlcFull,
    "mm_h264_cavlc_ac" -> h264CavlcAc,
    "mm_h264_cavlc_mb" -> h264CavlcMb,
    "mm_mp3_mpeg2" -> mp3Mpeg2,
    "mm_id3_v22" -> id3V22,
    "mm_id3_tags" -> id3Tags,
    "mm_h264_sps" -> h264Sps,
    "mm_h264_pcm" -> h264PcmDecode,
    "llm_jsonl_roundtrip" -> jsonlRoundtrip,
    "llm_orc_roundtrip" -> orcRoundtrip,
    "llm_csv_roundtrip" -> csvRoundtrip,
    "llm_compress_ratio" -> compressRatio,
    "llm_suffix_array" -> SuffixArray.suffixArray,
    "llm_exact_substr" -> SuffixArray.exactSubstr,
    "llm_sa_lcp" -> SuffixArray.lcpHistogram,
    "llm_cdc_chunks" -> CdcChunks.chunks,
    "llm_cdc_dedup" -> CdcChunks.dedup,
    "llm_cdc_incremental" -> CdcChunks.dedupIncremental,
  )

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  /** THE tokenizer — lowercased, trimmed, whitespace-split. One
    * definition for every consumer (batch helpers below and the
    * streaming filter cores): a tokenization change must reach all
    * of them at once. */
  private[llm] def tokenExpr: org.apache.spark.sql.Column =
    split(trim(lower(col("text"))), ws)

  /** doc_id + tokenized words (lowercased, whitespace-split). */
  private def tokenized(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), tokenExpr.as("w"))

  // ---------------------------------------------------------------
  // Exact dedup: hash-groupBy on the sha256 of the FULL normalized
  // text (lowercased, whitespace-collapsed) — two documents are
  // "copies" iff every normalized byte matches, the definition a
  // training pipeline means by exact dedup. At 100 TB this is one
  // shuffle on a 64-hex-char key (map-side partial agg first; the
  // full text never shuffles); the representative row is min(doc_id)
  // for determinism.
  // ---------------------------------------------------------------
  def dedupExact(s: SparkSession, d: String): DataFrame =
    tokenized(s, d)
      .select(col("doc_id"),
        sha2(concat_ws(" ", col("w")), 256).as("dedup_key"))
      .groupBy(col("dedup_key"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Tokenizer-induction pair statistics — the first BPE merge step
    * (Sennrich et al. 2016): corpus-wide counts of adjacent
    * character pairs within whitespace tokens, every occurrence
    * counted (BPE counts over word OCCURRENCES, not types). The
    * full induction loop re-tokenizes after each merge (a driver
    * loop over this exact aggregate); the per-round primitive is
    * what must be scale-shaped: map-side pair explode (words are
    * short — the per-word substring walk is O(len)), ONE
    * combine-collapsed hash aggregate on the ≤ |alphabet|² pair key
    * space, bounded top-k finish (TakeOrderedAndProject, never a
    * full sort). */
  def bpePairs(s: SparkSession, d: String): DataFrame =
    tokenized(s, d).select(explode(col("w")).as("word"))
      .filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1)," +
          " i -> substring(word, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(50)

  /** How many merges the BPE trainer learns — the unroll bound the
    * oracle replays stage by stage, so it is part of the CONTRACT,
    * not a tuning knob. */
  private[llm] val bpeRounds = 12

  /** THE BPE training loop (Sennrich et al. 2016, the actual
    * iterated algorithm — [[bpePairs]] is its first step): state is
    * the DISTINCT-word table, each word as its current symbol
    * sequence with its occurrence count; each round counts adjacent
    * symbol pairs (occurrence-weighted), merges the most frequent
    * pair (ties: lexicographic on (lhs, rhs)) greedily
    * left-to-right in every word, and records the merge. Returns
    * the learned merge list and the final tokenized state.
    *
    * Scale shape — the Lloyd/k-core driver-loop discipline: state
    * is VOCABULARY-sized (distinct words, not the corpus; the one
    * corpus-scale exchange is the initial word count, combine-
    * collapsed), each round is one pair-keyed aggregate on a
    * ≤ |symbols|² key space with a 1-ROW bounded argmax collect
    * (TakeOrderedAndProject — never a full sort), and the merge
    * application is a pure map-side array fold. Per-round state is
    * localCheckpoint'd and the previous round freed, so lineage and
    * storage stay O(1) across rounds. */
  /** Occurrence-weighted distinct-word counts of a tokenized frame
    * — the trainer's (and the frozen-merge appliers') input: the
    * one corpus-scale exchange, combine-collapsed. */
  private def wordCountsOf(in: DataFrame): DataFrame =
    in.select(explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("c"))

  /** The greedy leftmost non-overlapping merge of (a, b) over the
    * `toks` symbol array as a Catalyst HOF fold — retained as the
    * SPEC ORACLE for the codegen kernel that replaced it on the hot
    * paths ([[graft.functions.BpeKernel]]; BpeTrainSpec pins
    * kernel == fold): the `aggregate()` lambda is CodegenFallback
    * and its `concat(acc, array(x))` copies the accumulator per
    * element — O(len²) per word per merge, round 13's flagged
    * inefficiency. */
  private[graft] def bpeMergeFoldCol(a: String, b: String)
      : org.apache.spark.sql.Column =
    aggregate(col("toks"), array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, lit(-1)) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(lit(a + b))))
        .otherwise(concat(acc, array(x)))).as("toks")

  private def bpeTrainMerges(s: SparkSession, d: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    bpeTrainMergesOf(wordCountsOf(tokenized(s, d)))

  private def bpeTrainMergesOf(wc0: DataFrame)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val (st0, m0) = Fixpoint.observed(wc0
      .withColumn("toks", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")),
      count(lit(1)).as("n"))
    var st = st0
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var k = 1
    var done = false
    // interior exchanges sized to the measured word-vocabulary count
    // (graft.LoopConf discipline)
    graft.LoopConf.sized(wc0.sparkSession, Fixpoint.long(m0, "n")) {
    while (k <= bpeRounds && !done) {
      val best = st.filter(size(col("toks")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> " +
            "struct(element_at(toks, i) AS l, " +
            "element_at(toks, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((k, a, b, best(0).getLong(2)))
        val prev = st
        // greedy leftmost non-overlapping merge: the kernel's top of
        // stack after a merge is the MERGED symbol, which can itself
        // open the next match only as lhs — exactly BPE's scan
        // (primitive-loop codegen expression; the HOF fold it
        // replaced is the spec oracle, BpeTrainSpec)
        st = Fixpoint.ser(prev.select(col("word"), col("c"),
          graft.functions.BpeApplyStep(col("toks"), a, b).as("toks")))
        Fixpoint.free(prev)
        k += 1
      }
    }
    }
    (merges.result(), st)
  }

  /** Memoized (merge-list frame, final tokenized state) — both
    * queries of the family share ONE training run per corpus
    * snapshot. */
  private def bpeArtifacts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    SnapshotMemo.getOrCompute(s, s"bpe-trained:$d") {
      val spark = s
      import spark.implicits._
      val (merges, state) = bpeTrainMerges(s, d)
      (merges.toDF("merge_rank", "lhs", "rhs", "n_at_merge")
        .select(col("merge_rank").cast("int"), col("lhs"), col("rhs"),
          concat(col("lhs"), col("rhs")).as("merged"), col("n_at_merge")),
        state)
    }

  /** The learned merge list (`llm_bpe_vocab`): one row per training
    * round — (rank, lhs, rhs, merged symbol, pair count at merge
    * time). The oracle replays the ENTIRE training unrolled stage
    * by stage (argmax + greedy merge per stage), so a trainer that
    * mis-counts, breaks ties differently, or merges non-greedily
    * diverges at the first wrong round. */
  def bpeVocab(s: SparkSession, d: String): DataFrame =
    bpeArtifacts(s, d)._1

  /** Tokenize-with-the-learned-merges corpus statistics
    * (`llm_bpe_apply`): per final symbol, occurrence-weighted count
    * and distinct containing words — the trained-tokenizer handoff
    * surface (the BPE analog of [[wordpieceTokens]]' rollup). */
  def bpeApply(s: SparkSession, d: String): DataFrame =
    bpeArtifacts(s, d)._2
      .select(col("word"), col("c"), explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("n_occ"),
        countDistinct(col("word")).as("n_words"))

  /** The BASE-trained (arriving shard excluded) merge list as a
    * stored artifact — the frozen-tokenizer handoff seam, the BPE
    * sibling of [[buildWordpieceVocab]]'s vocabulary table: the
    * incremental and streaming rungs apply these merges WITHOUT
    * retraining, so tokenization of arriving text is stable across
    * refreshes until an explicit retrain swaps the artifact. */
  private[graft] def bpeMergesPath(s: SparkSession, d: String): String =
    SnapshotMemo.stored(s, d, "bpe-merges") { path =>
      val spark = s
      import spark.implicits._
      val (m, st) = bpeTrainMergesOf(wordCountsOf(
        tokenized(s, d).filter(!expr(arrivingShardPred))))
      Fixpoint.free(st)
      m.toDF("merge_rank", "lhs", "rhs", "n_at_merge")
        .write.mode("overwrite").parquet(path)
    }

  /** Frozen-merge INFERENCE over a (word, c) frame: the stored
    * merge list applied in rank order by ONE codegen kernel call
    * per word ([[graft.functions.BpeApply]] — char split + all
    * merges in primitive loops), map-side, no shuffle, no training.
    * The merge list is driver-bounded (=[[bpeRounds]] rows) by
    * construction and rides the expression as a by-value
    * reference. */
  private[graft] def bpeApplyMerges(wc: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    wc.withColumn("toks",
      graft.functions.BpeApply(col("word"), merges))

  /** The pre-kernel chained-HOF spelling of [[bpeApplyMerges]] —
    * kept ONLY as the spec oracle for the kernel (BpeTrainSpec
    * asserts kernel == fold on generated words). */
  private[graft] def bpeApplyMergesFold(wc: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(wc.withColumn("toks", expr(
      "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))) {
      case (df, (a, b)) => df.withColumn("toks", bpeMergeFoldCol(a, b))
    }

  /** Per-DOC frozen-merge tokenization — the row-local probe shape
    * the streaming twin needs (split-invariant by construction):
    * (doc_id, token, n) under the stored merge list. */
  private[graft] def bpeProbe(docsDf: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    bpeApplyMerges(
      docsDf.select(col("doc_id"), tokenExpr.as("w"))
        .select(col("doc_id"), explode(col("w")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("c")),
      merges)
      .select(col("doc_id"), col("c"), explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(sum(col("c")).as("n"))

  /** Incremental BPE tokenization (`llm_bpe_incremental`) — the
    * frozen-vocabulary rung ([[wordpieceIncremental]]'s BPE
    * sibling): the ARRIVING shard tokenizes under the BASE-trained
    * stored merge list ([[bpeMergesPath]]), so arriving text never
    * perturbs the tokenizer it is measured with — the
    * retrain-drift discipline. The oracle re-trains the base
    * merges unrolled AND replays the frozen application to the
    * arriving words, both stage by stage. */
  def bpeIncremental(s: SparkSession, d: String): DataFrame = {
    val merges = s.read.parquet(bpeMergesPath(s, d))
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val wcNew = wordCountsOf(
      tokenized(s, d).filter(expr(arrivingShardPred)))
    bpeApplyMerges(wcNew, merges)
      .select(col("word"), col("c"), explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("n_occ"),
        countDistinct(col("word")).as("n_words"))
  }

  /** Sub-word tokenization by greedy longest match against a
    * corpus-DERIVED vocabulary (`llm_wordpiece_tokens`) — the
    * WordPiece/unigram-LM INFERENCE shape, the companion of the
    * induction statistics in [[bpePairs]]: the vocabulary is every
    * observed character (the progress guarantee — any word always
    * tokenizes) plus the top-48 character 2/3/4-grams by
    * occurrence-weighted corpus frequency (ties broken
    * lexicographically, so the vocabulary is a deterministic
    * function of the corpus); each distinct word then tokenizes
    * left-to-right, always consuming the LONGEST vocabulary entry
    * matching at the cursor. Output: per-token corpus statistics
    * (occurrence-weighted count, distinct containing words).
    *
    * Scale shape: ONE combine-collapsed word-count exchange is all
    * the corpus text pays; gram counting explodes ≤ 3·len
    * substrings per DISTINCT word into a gram-keyed aggregate with
    * a bounded top-k finish; the vocabulary is alphabet-bounded
    * (chars + 48 grams — a driver read the size of a centroid
    * table) and BROADCASTS into the greedy walk, which runs
    * map-side over distinct words (the tokenizer inner loop is
    * data-dependent-length — the documented per-partition
    * imperative case, O(4·len) hash probes per word against the
    * broadcast set); the rollup is one token-keyed aggregate on a
    * vocabulary-bounded key space. A real pipeline swaps the
    * derived vocabulary for a trained one through the same
    * broadcast seam. */
  def wordpieceTokens(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val wc = Fixpoint.ser(tokenized(s, d).select(explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("c")))
    val topg = wc.filter(length(col("word")) >= 2)
      .select(col("word"), col("c"),
        explode(expr("sequence(2, least(4, length(word)))")).as("l"))
      .select(col("c"), explode(expr(
        "transform(sequence(1, length(word) - l + 1)," +
          " p -> substring(word, p, l))")).as("g"))
      .groupBy(col("g")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("g")).limit(48)
      .select(col("g")).as[String].collect()
    val chars = wc.select(explode(expr(
        "transform(sequence(1, length(word)), p -> substring(word, p, 1))"))
        .as("g")).distinct().as[String].collect()
    val vocabBc = s.sparkContext.broadcast((topg ++ chars).toSet)
    val toks = greedyWalk(wc.select(col("word"), col("c")), vocabBc,
      unk = None)
    toks.groupBy(col("token"))
      .agg(sum(col("c")).as("n_occ"),
        countDistinct(col("word")).as("n_words"))
  }

  /** The greedy longest-match inner loop shared by
    * [[wordpieceTokens]] and [[wordpieceIncremental]]: each (word,
    * count) row expands to its token sequence against the broadcast
    * vocabulary, always consuming the longest entry (≤ 4 chars)
    * matching at the cursor. `unk = None` means every position MUST
    * match (the full-corpus derivation guarantees it — loud require,
    * never a silent skip); `unk = Some(tok)` emits `tok` and
    * advances one char when nothing matches (the frozen-vocabulary
    * case: arriving text can carry characters the base corpus never
    * saw). */
  private[llm] def greedyWalk(wordCounts: DataFrame,
      vocabBc: org.apache.spark.broadcast.Broadcast[Set[String]],
      unk: Option[String]): DataFrame = {
    val spark = wordCounts.sparkSession
    import spark.implicits._
    wordCounts.as[(String, Long)].mapPartitions { it =>
      val v = vocabBc.value
      it.flatMap { case (w, c) =>
        walkWord(w, v, unk).map(t => (w, t, c))
      }
    }.toDF("word", "token", "c")
  }

  /** The per-word greedy longest-match inner loop itself — ONE
    * definition for every keying of the walk ([[greedyWalk]]'s
    * word-keyed batch form, [[wordpieceProbe]]'s doc-keyed
    * streaming-probe form). */
  private[llm] def walkWord(w: String, v: Set[String],
      unk: Option[String]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var p = 0
    while (p < w.length) {
      var l = math.min(4, w.length - p)
      var t: String = null
      while (t == null && l >= 1) {
        val cand = w.substring(p, p + l)
        if (v.contains(cand)) t = cand else l -= 1
      }
      unk match {
        case None =>
          require(t != null, s"no vocab entry matches '$w' at $p")
          out += t; p += t.length
        case Some(u) =>
          if (t == null) { out += u; p += 1 }
          else { out += t; p += t.length }
      }
    }
    out.toSeq
  }

  /** FROZEN-vocabulary tokenization of arriving documents
    * (`llm_wordpiece_incremental`) — the tokenizer lane's
    * incremental rung, and the shape every production pipeline
    * actually runs: the vocabulary is trained ONCE on the base
    * corpus (doc_id % 10 ≠ 7 — same derivation as
    * [[wordpieceTokens]], restricted to base text) and then applied
    * unchanged to the arriving slice (doc_id % 10 = 7). Arriving
    * text can contain characters the base corpus never saw, so the
    * walk carries the WordPiece unknown token: a cursor position no
    * vocabulary entry matches emits `<UNK>` and advances one
    * character — counted like any token, making OOV mass a
    * first-class output (the drift signal that tells a pipeline its
    * tokenizer needs retraining). Scale shape: the base pays the
    * same one word-count exchange as the full derivation (at 100 TB
    * the vocabulary is a stored artifact loaded per refresh, the
    * seam [[wordpieceTokens]] documents); the arriving slice pays
    * only ITS OWN word-count exchange and a broadcast-vocabulary
    * map-side walk — cost proportional to the delta, never to the
    * base corpus. */
  def wordpieceIncremental(s: SparkSession, d: String): DataFrame = {
    val vocabBc = s.sparkContext.broadcast(baseWordpieceVocab(s, d))
    val wcNew = tokenized(s, d).filter(col("doc_id") % 10 === 7)
      .select(explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    greedyWalk(wcNew, vocabBc, unk = Some("<UNK>"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("n_occ"),
        countDistinct(col("word")).as("n_words"))
  }

  /** UNIGRAM-LM tokenization by Viterbi dynamic programming
    * (`llm_unigram_tokens`) — the third of the big tokenizer
    * families (BPE merges, WordPiece greedy longest-match, unigram
    * GLOBAL segmentation), and the one whose answer greedy walks
    * get wrong: the DP considers every segmentation of a word
    * against the weighted vocabulary and picks the best WHOLE
    * sequence, so a high-frequency early token loses to a better
    * global split (e.g. greedy takes `ab|c` where `a|bc` carries
    * more corpus mass). SentencePiece scores segmentations by
    * Σ log p(token) — float, and therefore never hash-exact across
    * engines — so this variant pins an integer-exact objective with
    * the same structure: minimize token COUNT, break ties by
    * MAXIMIZING the sum of occurrence-weighted vocabulary
    * frequencies, and canonicalize remaining ties by preferring the
    * LONGER final token (applied recursively — the standard DP
    * exchange argument makes per-position canonical choices
    * globally canonical). The vocabulary is the [[wordpieceTokens]]
    * derivation WITH its counts kept: every observed character (the
    * progress guarantee) plus the top-48 2/3/4-grams, each carrying
    * its occurrence-weighted corpus frequency. The oracle
    * enumerates EVERY segmentation of every distinct word through a
    * recursive CTE and selects the same (count, −freqsum,
    * reversed-length-key) minimum — a genuinely different
    * formulation, so a DP that mis-orders a tie or drops a
    * candidate hash-mismatches.
    *
    * Scale shape: identical to [[wordpieceTokens]] — one
    * combine-collapsed word-count exchange, a gram aggregate with a
    * bounded top-k, an alphabet-bounded vocabulary broadcast into a
    * map-side per-distinct-word DP (O(4·len) hash probes), and a
    * token-keyed rollup on a vocabulary-bounded key space. */
  def unigramTokens(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val wc = Fixpoint.ser(tokenized(s, d).select(explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("c")))
    val vocabBc = s.sparkContext.broadcast(unigramVocab(wc))
    wc.as[(String, Long)].mapPartitions { it =>
      val v = vocabBc.value
      it.flatMap { case (w, c) =>
        viterbiWord(w, v).map(t => (w, t, c))
      }
    }.toDF("word", "token", "c")
      .groupBy(col("token"))
      .agg(sum(col("c")).as("n_occ"),
        countDistinct(col("word")).as("n_words"))
  }

  /** The weighted unigram vocabulary of a word-count relation:
    * every observed character plus the top-48 2/3/4-grams, each
    * carrying its occurrence-weighted corpus frequency —
    * alphabet-bounded, a driver read by design (the [[ivf]]
    * centroid-table discipline). */
  private def unigramVocab(wc: DataFrame): Map[String, Long] = {
    val spark = wc.sparkSession
    import spark.implicits._
    // occurrence-weighted gram counts, lengths 1..4 in one aggregate
    val grams = wc
      .select(col("word"), col("c"),
        explode(expr("sequence(1, least(4, length(word)))")).as("l"))
      .select(col("c"), explode(expr(
        "transform(sequence(1, length(word) - l + 1)," +
          " p -> substring(word, p, l))")).as("g"))
      .groupBy(col("g")).agg(sum(col("c")).as("n"))
    val topg = grams.filter(length(col("g")) >= 2)
      .orderBy(col("n").desc, col("g")).limit(48)
      .select(col("g"), col("n")).as[(String, Long)].collect()
    val chars = grams.filter(length(col("g")) === 1)
      .select(col("g"), col("n")).as[(String, Long)].collect()
    (topg ++ chars).toMap
  }

  /** Hard-EM prune rounds for the unigram tokenizer's TRAIN side
    * (`llm_unigram_vocab`) — SentencePiece-shaped vocabulary
    * induction next to BPE's merge training, completing the triad's
    * train axis: starting from the seed vocabulary (every char +
    * top-48 2/3/4-grams with corpus weights), each round runs one
    * Viterbi E-STEP over the word-count relation (the existing DP,
    * [[viterbiWord]]), re-estimates every vocabulary entry's mass
    * as its occurrence-weighted usage in the optimal segmentations
    * (integer M-STEP — entries the DP never uses drop to mass 0),
    * and PRUNES the [[unigramPruneK]] lowest-mass multi-char
    * entries ((mass asc, gram asc) order — single chars never
    * prune, the progress guarantee). Driver-looped like Lloyd/BPE:
    * the E-step is a distributed DP + vocabulary-bounded rollup
    * collected per round (the BPE per-round argmax discipline);
    * re-estimated weights feed the NEXT round's tie-break, so a
    * wrong mass propagates into a different round-2 drop. Output:
    * one row per (round, dropped gram, mass at drop). If fewer
    * multi-char entries remain than the prune width, the round
    * drops what is there and later rounds pass through empty — the
    * early-exhaust pass-through rule (ADVICE r13's BPE lesson),
    * mirrored in the oracle's unrolled stages. */
  private[graft] val unigramEmRounds = 3
  private[graft] val unigramPruneK = 8

  def unigramVocabTrain(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val (wc, wm) = Fixpoint.observed(
      tokenized(s, d).select(explode(col("w")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("c")),
      count(lit(1)).as("n"))
    var vocab: Map[String, Long] = unigramVocab(wc)
    val out = Seq.newBuilder[(Int, String, Long)]
    var r = 1
    // interior exchanges sized to the measured vocabulary count
    // (graft.LoopConf discipline)
    graft.LoopConf.sized(s, Fixpoint.long(wm, "n")) {
    while (r <= unigramEmRounds) {
      val bc = s.sparkContext.broadcast(vocab)
      // E-step: optimal segmentations under the current weights;
      // the rollup is vocabulary-bounded — a driver read by design
      val masses = wc.as[(String, Long)].mapPartitions { it =>
        val v = bc.value
        it.flatMap { case (w, c) =>
          viterbiWord(w, v).map(t => (t, c))
        }
      }.toDF("token", "c")
        .groupBy(col("token")).agg(sum(col("c")).as("n"))
        .as[(String, Long)].collect().toMap
      // M-step: re-estimated masses for every surviving entry
      val reweighted = vocab.map { case (g, _) =>
        g -> masses.getOrElse(g, 0L)
      }
      // prune the lowest-mass multi-char tail (early-exhaust: a
      // short tail drops entirely and later rounds pass through)
      val drops = reweighted.filter(_._1.length >= 2).toSeq
        .sortBy { case (g, n) => (n, g) }
        .take(unigramPruneK)
      drops.foreach { case (g, n) => out += ((r, g, n)) }
      vocab = reweighted -- drops.map(_._1)
      r += 1
    }
    }
    out.result().toDF("round", "dropped", "n_at_drop")
      .select(col("round").cast("int"), col("dropped"),
        col("n_at_drop"))
  }

  /** FROZEN-vocabulary unigram tokenization of arriving documents
    * (`llm_unigram_incremental`) — the Viterbi sibling of
    * [[wordpieceIncremental]], completing the incremental axis for
    * all three tokenizer families: the weighted vocabulary is
    * derived ONCE from the base corpus (doc_id % 10 ≠ 7) and applied
    * unchanged to the arriving slice. Arriving text can carry
    * characters the base never saw, so the DP graph gains an
    * `<UNK>` edge — frequency 0, length 1 — at exactly the cursor
    * positions where NO vocabulary entry matches (so it never
    * competes with a real edge from the same position, keeping the
    * canonical tie-break unambiguous), making OOV mass a
    * first-class output like the WordPiece rung. The oracle
    * enumerates every segmentation over the same edge set. Scale
    * shape: base pays one word-count exchange (a stored artifact at
    * 100 TB), arriving pays only its own exchange + the broadcast
    * map-side DP. */
  /** The base-corpus (doc_id % 10 ≠ 7) weighted unigram vocabulary
    * — the frozen artifact [[unigramIncremental]] and the streaming
    * probe share. */
  private[graft] def baseUnigramVocab(s: SparkSession,
      d: String): Map[String, Long] = {
    val wcBase = Fixpoint.ser(tokenized(s, d)
      .filter(col("doc_id") % 10 =!= 7)
      .select(explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("c")))
    unigramVocab(wcBase)
  }

  /** Persists the base-trained weighted unigram vocabulary as a
    * (g, n) parquet artifact — the trained-tokenizer handoff seam
    * the streaming probe reads per batch. */
  def buildUnigramVocab(s: SparkSession, d: String,
      path: String): Unit = {
    val spark = s
    import spark.implicits._
    baseUnigramVocab(s, d).toSeq.toDF("g", "n")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Per-document frozen-vocabulary unigram tokenization of an
    * arbitrary documents frame — the probe core shared by the
    * streaming twin: (doc_id, token, n) through the same Viterbi +
    * `<UNK>` DP as [[unigramIncremental]]. Rows are complete per
    * document, so output is independent of micro-batch splits. */
  def unigramProbe(docs: DataFrame,
      vocab: Map[String, Long]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab)
    docs.select(col("doc_id"), tokenExpr.as("w"))
      .select(col("doc_id"), explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .as[(Long, String, Long)].mapPartitions { it =>
        val v = bc.value
        it.flatMap { case (id, w, c) =>
          viterbiWordUnk(w, v).map(t => (id, t, c))
        }
      }.toDF("doc_id", "token", "c")
      .groupBy(col("doc_id"), col("token"))
      .agg(sum(col("c")).as("n"))
  }

  def unigramIncremental(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val vocabBc = s.sparkContext.broadcast(baseUnigramVocab(s, d))
    val wcNew = tokenized(s, d).filter(col("doc_id") % 10 === 7)
      .select(explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    wcNew.as[(String, Long)].mapPartitions { it =>
      val v = vocabBc.value
      it.flatMap { case (w, c) =>
        viterbiWordUnk(w, v).map(t => (w, t, c))
      }
    }.toDF("word", "token", "c")
      .groupBy(col("token"))
      .agg(sum(col("c")).as("n_occ"),
        countDistinct(col("word")).as("n_words"))
  }

  /** The per-word unigram Viterbi DP: position j's best prefix
    * segmentation minimizes (token count, −frequency sum) with the
    * longer-final-token canonical tie-break. Loud require when no
    * segmentation exists — the full-corpus character vocabulary
    * guarantees one. */
  private[llm] def viterbiWord(w: String,
      v: Map[String, Long]): Seq[String] = {
    val n = w.length
    val dpK = Array.fill(n + 1)(Int.MaxValue)
    val dpF = new Array[Long](n + 1)
    val back = new Array[Int](n + 1)
    dpK(0) = 0
    var j = 1
    while (j <= n) {
      val lm = math.min(4, j)
      var l = 1
      while (l <= lm) {
        if (dpK(j - l) != Int.MaxValue) {
          v.get(w.substring(j - l, j)) match {
            case Some(f) =>
              val k2 = dpK(j - l) + 1
              val f2 = dpF(j - l) + f
              if (k2 < dpK(j) || (k2 == dpK(j) && (f2 > dpF(j) ||
                (f2 == dpF(j) && l > back(j))))) {
                dpK(j) = k2; dpF(j) = f2; back(j) = l
              }
            case None => ()
          }
        }
        l += 1
      }
      j += 1
    }
    require(dpK(n) != Int.MaxValue, s"no segmentation for '$w'")
    val out = scala.collection.mutable.ListBuffer[String]()
    var p = n
    while (p > 0) {
      val l = back(p)
      out.prepend(w.substring(p - l, p))
      p -= l
    }
    out.toSeq
  }

  /** [[viterbiWord]] with the frozen-vocabulary `<UNK>` edge: a
    * cursor position where NO vocabulary entry matches contributes
    * one frequency-0 length-1 `<UNK>` step (mutually exclusive with
    * real edges from that position, so the canonical tie-break
    * stays unambiguous). Total reachability is guaranteed — every
    * position has either a vocabulary edge or the fallback. */
  private[llm] def viterbiWordUnk(w: String,
      v: Map[String, Long]): Seq[String] = {
    val n = w.length
    val dpK = Array.fill(n + 1)(Int.MaxValue)
    val dpF = new Array[Long](n + 1)
    val back = new Array[Int](n + 1)
    val backUnk = new Array[Boolean](n + 1)
    dpK(0) = 0
    def hasMatch(p: Int): Boolean = {
      val lm = math.min(4, n - p)
      var l = 1
      while (l <= lm) {
        if (v.contains(w.substring(p, p + l))) return true
        l += 1
      }
      false
    }
    var j = 1
    while (j <= n) {
      val lm = math.min(4, j)
      var l = 1
      while (l <= lm) {
        if (dpK(j - l) != Int.MaxValue) {
          v.get(w.substring(j - l, j)) match {
            case Some(f) =>
              val k2 = dpK(j - l) + 1
              val f2 = dpF(j - l) + f
              if (k2 < dpK(j) || (k2 == dpK(j) && (f2 > dpF(j) ||
                (f2 == dpF(j) && l > back(j))))) {
                dpK(j) = k2; dpF(j) = f2; back(j) = l
                backUnk(j) = false
              }
            case None => ()
          }
        }
        l += 1
      }
      if (dpK(j - 1) != Int.MaxValue && !hasMatch(j - 1)) {
        val k2 = dpK(j - 1) + 1
        val f2 = dpF(j - 1)
        if (k2 < dpK(j) || (k2 == dpK(j) && (f2 > dpF(j) ||
          (f2 == dpF(j) && 1 > back(j))))) {
          dpK(j) = k2; dpF(j) = f2; back(j) = 1
          backUnk(j) = true
        }
      }
      j += 1
    }
    require(dpK(n) != Int.MaxValue, s"no segmentation for '$w'")
    val out = scala.collection.mutable.ListBuffer[String]()
    var p = n
    while (p > 0) {
      val l = back(p)
      out.prepend(if (backUnk(p)) "<UNK>" else w.substring(p - l, p))
      p -= l
    }
    out.toSeq
  }

  /** The base-corpus (doc_id % 10 ≠ 7) vocabulary of
    * [[wordpieceIncremental]] — every base character + top-48
    * base 2/3/4-grams, the frozen artifact the incremental and
    * streaming rungs probe against. Alphabet-bounded (a driver
    * read by design, like a centroid table). */
  private[graft] def baseWordpieceVocab(s: SparkSession,
      d: String): Set[String] = {
    val spark = s
    import spark.implicits._
    val base = tokenized(s, d).filter(col("doc_id") % 10 =!= 7)
    val wcBase = Fixpoint.ser(base.select(explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("c")))
    val topg = wcBase.filter(length(col("word")) >= 2)
      .select(col("word"), col("c"),
        explode(expr("sequence(2, least(4, length(word)))")).as("l"))
      .select(col("c"), explode(expr(
        "transform(sequence(1, length(word) - l + 1)," +
          " p -> substring(word, p, l))")).as("g"))
      .groupBy(col("g")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("g")).limit(48)
      .select(col("g")).as[String].collect()
    val chars = wcBase.select(explode(expr(
        "transform(sequence(1, length(word)), p -> substring(word, p, 1))"))
        .as("g")).distinct().as[String].collect()
    (topg ++ chars).toSet
  }

  /** Persist [[baseWordpieceVocab]] as the stored tokenizer artifact
    * (one `g` column) — what a production pipeline ships between
    * training the tokenizer and running it; the streaming twin
    * ([[graft.streaming.DocsStream.startWordpieceProbe]]) loads it
    * per run. */
  def buildWordpieceVocab(s: SparkSession, d: String,
      path: String): Unit = {
    val spark = s
    import spark.implicits._
    baseWordpieceVocab(s, d).toSeq.toDF("g")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Per-document frozen-vocabulary tokenization of an arbitrary
    * documents frame — the probe core shared by the streaming twin:
    * (doc_id, token, n) with the `<UNK>` fallback of
    * [[wordpieceIncremental]]. Rows are complete per document (a
    * document is one input row), so the output over a document set
    * is independent of how that set is micro-batched — the
    * batch-split invariance the twin spec pins. */
  def wordpieceProbe(docs: DataFrame,
      vocab: Set[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab)
    val words = docs.select(col("doc_id"), tokenExpr.as("w"))
      .select(col("doc_id"), explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
    words.as[(Long, String, Long)].mapPartitions { it =>
      val v = bc.value
      it.flatMap { case (id, w, c) =>
        walkWord(w, v, unk = Some("<UNK>")).map(t => (id, t, c))
      }
    }.toDF("doc_id", "token", "c")
      .groupBy(col("doc_id"), col("token"))
      .agg(sum(col("c")).as("n"))
  }

  /** Corpus-LM fluency scoring — the perplexity-proxy quality
    * signal (the CCNet/Gopher "KenLM perplexity" slot, realized
    * with the corpus's OWN bigram statistics and EXACT integer
    * arithmetic so the gate can hash it): each adjacent pair scores
    * the scaled conditional frequency `(10⁶·c(w1,w2)) div c(w1·)`
    * (c(w1·) = occurrences of w1 as a bigram PREFIX, so every
    * ratio ≤ 10⁶ and Σ over a doc is exact), and a document's
    * fluency is the integer mean over its pairs. Low scores mark
    * incoherent/shuffled text whose word transitions the corpus has
    * never seen — the signal repetition/stopword counters miss.
    *
    * Scale shape: the two count tables are derived ONCE from the
    * same pair frame (combine-collapsed aggregates on the bigram /
    * prefix keys) and join back by SHUFFLE equi-joins — both sides
    * are vocabulary-or-corpus-scale and data-dependent, exactly the
    * tables the rehearsal taught us never to let a size estimate
    * promote to broadcast; the per-doc rollup is one doc-keyed
    * aggregate. */
  def bigramFluency(s: SparkSession, d: String): DataFrame = {
    // the exploded pair frame is evaluated by BOTH the count-table
    // build and the final score join — materialize it once
    // (token-scale, disk-resident like the SA bulk artifacts)
    // instead of re-tokenizing and re-exploding the corpus per use.
    // Only (doc_id, bg): w1 is a function of bg (tokens are
    // whitespace-free, so w1 = substring_index(bg, ' ', 1)) — carry
    // the narrower frame (guide §2.3).
    val bp = graft.SnapshotMemo.getOrCompute(s, s"fluency-bp:$d") {
      Fixpoint.disk(tokenized(s, d)
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), i -> " +
            "concat_ws(' ', element_at(w, i), element_at(w, i + 1)))"))
          .as("bg")))
    }
    // the trained LM statistic, pre-joined at VOCABULARY scale: the
    // pair score (10⁶·c(w1,w2)) div c(w1·) depends only on the
    // bigram, so the prefix totals (c(w1·) = Σ over bigrams sharing
    // the prefix — derived from the bigram counts, never a second
    // corpus pass) fold into one (bg, sc) table and the corpus pays
    // exactly ONE token-scale join. The r17 shape paid two
    // token-scale sort-merge joins plus a second corpus-scale
    // aggregate for the prefix counts (measured 3.9 → 4.6 s cold —
    // the VERDICT item 8 regression this replaces).
    val sc = graft.SnapshotMemo.getOrCompute(s, s"fluency-sc:$d") {
      val cb = bp.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
        .withColumn("w1", expr("substring_index(bg, ' ', 1)"))
      val cu = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
      Fixpoint.ser(cb.join(cu, Seq("w1"))
        .select(col("bg"), expr("(1000000 * cb) DIV cu").as("sc")))
    }
    bp.join(sc.hint("merge"), Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("sc")).as("ssum"))
      .select(col("doc_id"), col("n_pairs"),
        expr("ssum DIV n_pairs").as("fluency"))
  }

  /** Shard count for the deterministic corpus shuffle. At 100 TB
    * this scales with the corpus (shards ≈ corpus / target-file-
    * size, i.e. hundreds of thousands), which is exactly what keeps
    * the per-shard position windows reducer-bounded. */
  private val ShuffleShards = 16

  /** Deterministic GLOBAL training-order shuffle — how you shuffle
    * 100 TB without a global sort: every document draws a 60-bit
    * rank from a seeded md5 (the corpus-wide uniform permutation),
    * its SHARD is the rank's residue (hash-random, so shards
    * partition the permutation uniformly), and its position WITHIN
    * the shard is a per-shard window over the rank. A reader
    * consuming shards in order, each in `pos` order, replays one
    * fixed uniformly-random global order; re-running with the same
    * seed replays it exactly (the reproducibility contract training
    * needs). ONE exchange on the shard key; reducer input is
    * corpus/shards — bounded by the shard-size target, never the
    * corpus. */
  def shuffleShards(s: SparkSession, d: String): DataFrame = {
    val rankSql =
      graft.functions.QuantileSketch.hexRankSql("instr", "h", 1, 15)
    docs(s, d)
      .select(col("doc_id"),
        md5(concat(lit("shuf42:"), col("doc_id"))).as("h"))
      .select(col("doc_id"), expr(rankSql).as("rk"))
      .withColumn("shard", pmod(col("rk"), lit(ShuffleShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("rk"), col("doc_id")))
        .cast("long") - 1)
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Source-PRIORITY dedup keep: when an exact-duplicate group spans
    * sources, a real pipeline keeps the copy from the most-trusted
    * source (curated beats scraped — the RefinedWeb/Pile curation
    * rule), not the lowest id. Priority = the source's numeric rank
    * (`src0` most trusted). The winner is selected by ONE `min` over
    * an encoded `priority·2^40 + doc_id` key — exact long arithmetic
    * both engines share — so the rollup stays a single
    * map-side-combined hash aggregate: no window function, no
    * join-back, and ties are impossible (doc_id is unique). At
    * 100 TB this costs exactly what [[dedupExact]] costs. */
  def dedupPriority(s: SparkSession, d: String): DataFrame = {
    val enc = 1L << 40
    docs(s, d)
      .select(sha2(concat_ws(" ", tokenExpr), 256).as("dedup_key"),
        (expr("CAST(substring(source, 4) AS BIGINT)") * enc +
          col("doc_id")).as("ord"),
        col("source"))
      .groupBy(col("dedup_key"))
      .agg(min(col("ord")).as("m"), count(lit(1)).as("n_copies"),
        countDistinct(col("source")).as("n_sources"))
      .select(col("dedup_key"), (col("m") % enc).as("keep_id"),
        expr(s"m DIV $enc").as("keep_priority"),
        col("n_copies"), col("n_sources"))
  }

  // ---------------------------------------------------------------
  // MinHash-LSH near-dup: word-3-gram shingles → 8 MinHashes (min of
  // md5 over salted shingles; hex strings compare identically in
  // both engines) → 4 bands × 2 rows → candidate pairs strictly
  // within band buckets. The join key is (band, band_value): at
  // 100 TB that is one shuffle on the bucket hash and an intra-bucket
  // self-join — never a cross-join of the corpus.
  // ---------------------------------------------------------------
  /** One shingle-construction expression for every 3-gram consumer
    * (MinHash chain keyed by doc_id, KMV sketch keyed by source) —
    * a normalization change here MUST reach all of them at once.
    * Backed by the codegen `word_ngrams` kernel;
    * the interpreted HOF spelling it replaced is kept below as
    * [[shingle3HofExpr]] and spec-pinned equal (WordNgramsSpec), so
    * the fast path is cross-checked against the independent one. */
  private[llm] val shingle3Expr = "word_ngrams(w, 3)"

  /** The pre-kernel higher-order-function spelling (CodegenFallback —
    * the lambda runs interpreted per shingle). Retained as the
    * structurally independent reference implementation. */
  private[llm] val shingle3HofExpr =
    """CASE WHEN size(w) >= 3
      |  THEN transform(sequence(1, size(w) - 2),
      |    i -> concat(element_at(w, i), ' ', element_at(w, i + 1),
      |                ' ', element_at(w, i + 2)))
      |  ELSE array() END""".stripMargin

  /** Signatures are materialized once per corpus snapshot (they are
    * a stored artifact in a real dedup pipeline — 8 lanes × 8 hex
    * chars per document, orders narrower than the corpus): the
    * banding/pairing chain and the [[minhashEst]] join legs all read
    * the same table instead of re-running the shingle→sha256 chain. */
  private def minhashSig(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"minhash-sig:$d")(
      Fixpoint.ser(computeMinhashSig(s, d)))

  // One sha256 per shingle, sliced into 8 non-overlapping 32-bit hex
  // lanes = 8 independent uniform hashes (8× cheaper than 8 salted
  // digests; hex-string min is identical in both engines). The chain
  // lives in [[DedupIndex.signatures]] — shared with the stored-index
  // build and the streaming twin's micro-batches.
  private def computeMinhashSig(s: SparkSession, d: String): DataFrame =
    DedupIndex.signatures(docs(s, d))

  private def bands(s: SparkSession, d: String): DataFrame =
    DedupIndex.bandsOf(minhashSig(s, d))

  /** LSH bucket-size histogram — MEASURES the skew the salt cap
    * below guards against instead of assuming it: for each (band,
    * band-value) bucket, its member count, rolled into a
    * (bucket_size → n_buckets) histogram. This is the number an
    * operator checks before trusting pair-generation cost estimates
    * (a fat tail here means degenerate band hashes — near-empty
    * docs, boilerplate — and quadratic pair blowup without the
    * salt). Reads the memoized signature artifact; two bounded
    * exchanges (bucket key, then size key). */
  def lshBucketStats(s: SparkSession, d: String): DataFrame =
    bands(s, d)
      .groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))

  /** Bucket-size cap: pair expansion is quadratic in bucket size, and
    * an oversized bucket means a degenerate band hash. Oversized
    * buckets are SALTED, not dropped (see [[computePairs]]): members
    * split into ceil(n/cap) deterministic sub-buckets and pairs
    * enumerate within sub-buckets — work bounded near g·cap²/2 pairs
    * per degenerate hash instead of n², and no bucket's candidates
    * vanish wholesale. Observed max bucket is 3 at sf0.01 / 9 at
    * sf0.1, so the salt is a pure scale-guard locally (salt = 0
    * everywhere, bit-identical to the unsalted plan), mirrored in the
    * oracle SQL so both engines agree by construction on ANY data. */
  private val maxLshBucket = 64

  /** LSH candidate pairs, materialized ONCE per corpus snapshot
    * (localCheckpoint) and shared by every consumer — the verify
    * stage ([[ngramJaccard]]), clustering ([[dedupClusters]]) and the
    * dedup output ([[dedupKeep]]) all read the same pair table, the
    * way a production pipeline materializes candidate generation once
    * and fans out. Without this the full shingle→sha→minhash→bucket
    * chain re-ran once per consumer. */
  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"lsh-pairs:$d")(
      Fixpoint.ser(computePairs(s, d)))

  private def computePairs(s: SparkSession, d: String): DataFrame =
    pairsFromBands(bands(s, d))

  private[graft] def pairsFromBands(b: DataFrame): DataFrame = {
    // Pairs are enumerated *within* buckets: shuffle on the
    // (band, band-hash) key, then per-bucket combination generation —
    // the minhash chain is computed once (a self-join would compute it
    // twice and tempt AQE into broadcasting corpus-scale band data).
    //
    // Skew guard, salt-don't-drop: collect_list of a degenerate
    // bucket would materialize the whole bucket in one aggregation
    // row, so bucket sizes are pre-counted and oversized buckets
    // (by construction a tiny table — they need degenerate band
    // hashes) are BROADCAST back; their members salt into
    // g = ceil(n/cap) sub-buckets by md5(doc_id)'s 60-bit rank % g
    // before the collect. The hash mix (not raw doc_id % g) means a
    // residue-clustered id distribution — e.g. all-even ids with
    // g = 2 — still spreads uniformly across salt cells, so no salt
    // cell exceeds the cap except with md5-collision-level odds; the
    // size filter stays as the hard guard for that case. Below the
    // cap salt = 0 and the plan is bit-identical to the unsalted
    // one. Cost: a second pass over the narrow 3-column band
    // table — the price of never OOMing on a degenerate hash.
    val over = b.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxLshBucket)
      .select(col("band"), col("bv"),
        expr(s"(n + ${maxLshBucket - 1}) div $maxLshBucket").as("g"))
    val saltRank = graft.functions.QuantileSketch.rank60Sql("instr", "hm")
    b.join(broadcast(over), Seq("band", "bv"), "left")
      .withColumn("hm", md5(col("doc_id").cast("string")))
      .withColumn("salt",
        when(col("g").isNull, lit(0L)).otherwise(expr(s"($saltRank)") % col("g")))
      .groupBy(col("band"), col("bv"), col("salt"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxLshBucket)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |            y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** Clone-collapsed edge set for near-dup CLUSTERING
    * ([[dedupClusters]], [[DedupIndex.writeIndexSig]]). The LSH pair
    * table is the right artifact for pair-level consumers (the
    * Jaccard verify, bucket diagnostics) but the WRONG input for
    * connected components at web-corpus duplication rates: documents
    * sharing an identical FULL MinHash signature (byte-identical
    * texts — 30–50% of a real crawl) match in every band, so a
    * k-clone group contributes a k(k−1)/2-edge clique the label loop
    * then shuffles every round. The 100× DeepScale corpus (50-clone
    * groups, 500 k docs) OOM'd a 3 GB heap on the clique form.
    *
    * The reduction — the same identical-signature collapse the
    * banded SimHash gate applies ([[simhashNeardup]]) — is
    * COMPONENT-EQUAL to the clique graph below the bucket cap:
    *  - each identical-signature group collapses to its min-id
    *    representative with STAR edges (rep, member): the clique is
    *    a subset of the star's transitive closure;
    *  - banded pair generation runs over DISTINCT signatures only:
    *    bands are a pure function of the signature, so two docs
    *    share a band bucket iff their reps share it — every
    *    cross-group clique edge maps to a rep–rep edge reachable
    *    through the stars, and the 16-hex-char bucket population is
    *    bounded by signature DIVERSITY, not duplication density.
    * Node sets also coincide: a star member is in some clique
    * (group ≥ 2), and a rep pair implies a full-graph pair. ABOVE
    * the cap the spellings diverge — deliberately: the salt guard
    * fractures an over-cap clone bucket into salt cells, so the
    * clique CC splits a group of byte-identical documents, while
    * the stars keep hamming-0 clones one component no matter how
    * many there are. The oracle SQL mirrors this collapse
    * ([[clusterEdgesCte]]) the same way it mirrors the salt, so
    * both engines agree by construction on ANY corpus. Edge count
    * drops from O(Σ k²) to O(Σ k) + pairs over distinct
    * signatures.
    *
    * Rep selection is a groupBy + shuffle join on the signature
    * key, NOT a window: a window sends a fully degenerate corpus
    * (one giant clone group) through ONE task, while the aggregate
    * partial-combines map-side and AQE splits the skewed join. */
  private[graft] def clusterEdges(sig: DataFrame): DataFrame = {
    val withKey = sig.withColumn("sk",
      concat((1 to 8).map(j => col(s"h$j")): _*))
    val reps = withKey.groupBy(col("sk"))
      .agg(min(col("doc_id")).as("rep"))
    val tagged = withKey.join(reps, Seq("sk"))
    val stars = tagged.filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val repSig = tagged.filter(col("doc_id") === col("rep"))
      .select(col("doc_id") +: (1 to 8).map(j => col(s"h$j")): _*)
    stars.union(pairsFromBands(DedupIndex.bandsOf(repSig)))
  }

  // ---------------------------------------------------------------
  // Exact n-gram Jaccard — verification stage for the LSH candidate
  // pairs (classic LSH-then-verify): word-bigram sets, similarity
  // scaled to an integer in [0, 1000]. Only candidate pairs are
  // scored, so the expensive exact comparison runs on O(candidates),
  // not O(n²).
  // ---------------------------------------------------------------
  /** Word-bigram expression shared by the Jaccard/repetition/
    * frequency operators (one definition, one oracle mirror). */
  private val bigramExpr =
    """CASE WHEN size(w) >= 2
      |  THEN transform(sequence(1, size(w) - 1),
      |    i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))
      |  ELSE array() END""".stripMargin

  /** (doc_id, bg) with multiplicity — consumers aggregate or
    * distinct as their semantics need. */
  private def bigramRows(s: SparkSession, d: String): DataFrame =
    tokenized(s, d).select(col("doc_id"),
      explode(expr(bigramExpr)).as("bg"))

  /** The DISTINCT per-doc bigram set, materialized once per corpus
    * snapshot: it feeds three join legs in [[ngramJaccard]], and a
    * per-call localCheckpoint would pin a fresh copy of the blocks on
    * every invocation for the session lifetime. */
  private def distinctBigrams(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"bigrams-distinct:$d")(
      Fixpoint.ser(bigramRows(s, d).distinct()))

  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    val bg = distinctBigrams(s, d)
    val sizes = bg.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // Every LSH candidate pair shares a 3-gram shingle, hence ≥2 word
    // bigrams — so the intersection inner-join keeps all pairs (a
    // zero-overlap pair could only arise from a 32-bit lane collision
    // and is then uninteresting anyway). Inner joins let the pair
    // chain be computed once instead of once per reference.
    val inter = dedupMinhash(s, d)
      .join(bg.as("x"), col("doc_a") === col("x.doc_id"))
      .join(bg.as("y"), col("doc_b") === col("y.doc_id") &&
        col("x.bg") === col("y.bg"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        floor(lit(1000.0) * col("n_inter") /
          (col("sa.n") + col("sb.n") - col("n_inter"))).as("jaccard_x1000"))
  }

  /** Asymmetric CONTAINMENT over the LSH candidate pairs — the
    * subset/quote/boilerplate detector symmetric Jaccard misses: a
    * short document quoted whole inside a long one scores low
    * Jaccard (the union is the long side) but containment of the
    * short side ≈ 1, which is exactly the "near-dup that matters"
    * for training data (the short doc adds nothing new). Per
    * candidate pair: `n_inter / |A|`, `n_inter / |B|`, and the
    * decision metric `n_inter / min(|A|,|B|)` (containment of the
    * smaller side), ×1000-floored to integers for the exact oracle.
    *
    * Scale shape = [[ngramJaccard]]'s verbatim: candidates come from
    * the MEMOIZED pair table (never all-pairs), intersections are a
    * bigram equi-join, and the per-side normalizations are two extra
    * broadcast-scale joins on pair-table keys — the added metric
    * costs three projection columns, nothing more. */
  def containment(s: SparkSession, d: String): DataFrame = {
    val bg = distinctBigrams(s, d)
    val sizes = bg.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = dedupMinhash(s, d)
      .join(bg.as("x"), col("doc_a") === col("x.doc_id"))
      .join(bg.as("y"), col("doc_b") === col("y.doc_id") &&
        col("x.bg") === col("y.bg"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        floor(lit(1000.0) * col("n_inter") / col("sa.n"))
          .as("cont_a_x1000"),
        floor(lit(1000.0) * col("n_inter") / col("sb.n"))
          .as("cont_b_x1000"),
        floor(lit(1000.0) * col("n_inter") /
          least(col("sa.n"), col("sb.n"))).as("cont_min_side_x1000"))
  }

  // ---------------------------------------------------------------
  // Near-dup clustering: connected components over the
  // clone-collapsed LSH edge set ([[clusterEdges]] — component-equal
  // to the pair cliques; the step after candidate generation in a
  // real dedup pipeline — transitively-linked duplicates form one
  // cluster and one representative per cluster is kept). Min-label:
  // every doc starts labeled with itself; each round pulls the
  // minimum label across its edges; fixpoint in O(component diameter)
  // rounds. Each round is ONE shuffle (join + min-agg) — the standard
  // large-scale CC shape (Pregel-style); the driver only coordinates
  // rounds and checks convergence. localCheckpoint truncates the
  // per-round lineage so plans stay O(1) instead of O(rounds).
  // ---------------------------------------------------------------
  private val SnapshotMemo = graft.SnapshotMemo

  /** Final converged labels are memoized per (session, dir): the
    * clusters table is a materialized (checkpointed) artifact that
    * downstream consumers — here [[dedupKeep]] — reuse instead of
    * re-running the iterative loop, exactly as a production pipeline
    * materializes CC output once per corpus snapshot. */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"cc-labels:$d")(computeClusters(s, d))

  private def computeClusters(s: SparkSession, d: String): DataFrame =
    ccFromPairs(clusterEdges(minhashSig(s, d)))

  private[graft] def ccFromPairs(pairs: DataFrame): DataFrame =
    ccFromPairsChk(pairs)._2

  /** [[ccFromPairs]] returning BOTH the raw label checkpoint (so
    * rollup-only callers can free it once their artifact
    * materializes — [[graft.queries.RelationalQueries.components]])
    * and the projected (doc_id, cluster_id) view. */
  private[graft] def ccFromPairsChk(
      pairs: DataFrame): (DataFrame, DataFrame) = {
    // the edge list is PAIR-scale (it grows with duplication
    // density, not corpus size alone) and every round re-reads it:
    // serialized blocks (see Fixpoint.ser), ser/deser cost bounded by
    // the O(log d) rounds
    val (e0, em) = Fixpoint.observed(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))),
      count(lit(1)).as("n"))
    // The pair graph is orders of magnitude smaller than the corpus —
    // size the loop's parallelism to IT, not to the session default
    // (32 near-empty tasks per round is pure scheduling overhead).
    // The same sizing now also scopes the INTERIOR exchanges
    // (groupBy/min, pointer join) via [[graft.LoopConf.sized]] — the
    // loop's own shuffles at session width were the dominant cost of
    // the CC family (see LoopConf).
    val nE = Fixpoint.long(em, "n")
    // Every round joins the edge list on `dst`: checkpoint it once,
    // hash-partitioned on `dst` at the rounds' width and with AQE off
    // so the checkpoint reports that partitioning (see Fixpoint.disk),
    // and no round re-exchanges it.
    val edges = graft.LoopConf.noAqe(e0.sparkSession)(Fixpoint.ser(
      e0.repartition(graft.LoopConf.partsFor(nE), col("dst"))))
    Fixpoint.free(e0)
    graft.LoopConf.sized(e0.sparkSession, nE) {
    // Convergence via the label sum: min-propagation only ever
    // decreases labels, so the sum is unchanged iff NO label changed —
    // one aggregate observed on the round's own checkpoint instead of
    // a join against the previous iteration. Summed as DECIMAL(38,0):
    // a bigint sum of billions of 63-bit ids overflows (ANSI error,
    // or a wrapped value that could alias the previous sum and end
    // the loop un-converged).
    val sumLabels = sum(col("lbl").cast("decimal(38,0)")).as("lbl_sum")
    // Round 1 starts from the identity labelling as a plan, not a
    // checkpoint of its own: with no previous sum, only an empty
    // round 1 can stop the loop.
    val start = (edges.select(col("src").as("doc")).distinct()
      .withColumn("lbl", col("doc")), Map.empty[String, Any])
    val labels = Fixpoint.iterate("cc", start, Seq(sumLabels)) { (labels, _, _) =>
      val pulled = edges.join(labels, col("dst") === col("doc"))
        .select(col("src").as("doc"), col("lbl"))
      val stepped = labels.union(pulled)
        .groupBy(col("doc")).agg(min(col("lbl")).as("lbl"))
      // Pointer jump (path compression): replace each label by the
      // label's OWN label — every label is itself a node, so chains
      // halve each round and convergence is O(log diameter) rounds
      // instead of O(diameter). Long near-dup chains made plain
      // propagation diameter-bound (~2.5x slower end-to-end here).
      val ptr = stepped.select(col("doc").as("pdoc"), col("lbl").as("plbl"))
      stepped.join(ptr, col("lbl") === col("pdoc"), "left")
        .select(col("doc"), coalesce(col("plbl"), col("lbl")).as("lbl"))
    } { (prev, cur) =>
      // a sum over no rows and a dropped observation both read as null
      prev.getOrElse("lbl_sum", null) == cur.getOrElse("lbl_sum", null)
    }.state
    // the edge list is only needed during the loop
    Fixpoint.free(edges)
    (labels,
      labels.select(col("doc").as("doc_id"), col("lbl").as("cluster_id")))
    }
  }

  /** The deduplicated corpus: every document except non-canonical
    * cluster members (cluster representative = min doc_id). This is
    * the artifact a training pipeline actually ships — clusters are
    * diagnostics, this is the output table. Broadcast anti-join: the
    * duplicate list is pair-graph-sized, orders below the corpus. */
  def dedupKeep(s: SparkSession, d: String): DataFrame = {
    val dupes = dedupClusters(s, d)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("dup_id"))
    docs(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(dupes), col("doc_id") === col("dup_id"), "left_anti")
  }

  // ---------------------------------------------------------------
  // Cross-snapshot INCREMENTAL dedup: the corpus is split into an
  // existing snapshot (doc_id % 10 <> 7) whose banded MinHash
  // signatures + cluster labels are PERSISTED once as a parquet
  // stored index, and an arriving shard (doc_id % 10 = 7) that is
  // signed row-locally and probed against the index WITHOUT
  // recomputing it — the way a production 100 TB pipeline admits new
  // data (backfill the index once; per-batch cost is the batch's own
  // signatures + a map-side probe of the index scan). See
  // [[DedupIndex]] for the probe's broadcast asymmetry and
  // [[graft.streaming.DocsStream.startIncrementalDedup]] for the
  // streaming twin over the same stored artifact.
  // ---------------------------------------------------------------
  private[graft] val arrivingShardPred = "doc_id % 10 = 7"

  /** The persisted index for snapshot `d`, written at most once per
    * session ([[SnapshotMemo.stored]]) and READ BACK from parquet —
    * every probe consumes the artifact, not the lineage. */
  private[llm] def storedIndex(s: SparkSession, d: String): DedupIndex.Stored =
    DedupIndex.read(s, SnapshotMemo.stored(s, d, "dedup-index") { path =>
      // the index is built from a FILTER of the memoized per-corpus
      // signature artifact (signatures are per-document, so the
      // subset's bands == full bands filtered) — the corpus is never
      // re-shingled to build a snapshot index
      DedupIndex.writeIndexSig(s,
        minhashSig(s, d).filter(!expr(arrivingShardPred)), path)
    })

  def dedupIncremental(s: SparkSession, d: String): DataFrame =
    DedupIndex.probe(docs(s, d).filter(expr(arrivingShardPred)),
      storedIndex(s, d))

  /** The EXACT twin of [[dedupIncremental]]: the stored index is the
    * per-document sha256 of the normalized text (with the min-id
    * representative per key), persisted once; an arriving shard
    * hashes its own texts and probes by key. Same asymmetry — the
    * arriving hashes broadcast against the map-side index scan, one
    * tiny rollup exchange — and together the pair covers both dedup
    * levels a production corpus admits new data through (byte-exact
    * copies here, near-dups via the MinHash index). Output:
    * `doc_id, verdict, dup_of` (the matched representative; -1 when
    * kept). */
  def exactIncremental(s: SparkSession, d: String): DataFrame = {
    val idx = storedExactIndex(s, d)
    val arriving = docs(s, d).filter(expr(arrivingShardPred))
      .select(col("doc_id"), tokenizedKeyExpr.as("a_key"))
    val matched = idx.join(
        broadcast(arriving.withColumnRenamed("doc_id", "a_id")),
        col("dedup_key") === col("a_key"))
      .groupBy(col("a_id")).agg(min(col("keep_id")).as("dup_of"))
    arriving.select(col("doc_id"))
      .join(broadcast(matched), col("doc_id") === col("a_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNull, lit("kept")).otherwise(lit("dropped"))
          .as("verdict"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
  }

  /** JSONL codec roundtrip over the documents table — the corpus-
    * interchange twin of the RDF layer's `rdf_turtle_roundtrip`:
    * serialize every document to JSON-Lines
    * ([[graft.sources.JsonlDocs]]), read the files back with the
    * pinned schema, and return the full rows. The oracle is
    * `SELECT * FROM documents` straight off parquet, so codec
    * LOSSLESSNESS (newlines, quotes, unicode in `text` survive the
    * line framing) is what the hash match proves. Written once per
    * session ([[SnapshotMemo.stored]]); every call re-reads the
    * files, so the read path is exercised per run. */
  def jsonlRoundtrip(s: SparkSession, d: String): DataFrame =
    graft.sources.JsonlDocs.read(s, SnapshotMemo.stored(s, d, "jsonl") {
      path => graft.sources.JsonlDocs.write(docs(s, d), path)
    })

  private val DocCols =
    Seq("doc_id", "text", "lang", "source", "n_chars")

  /** ORC interchange roundtrip (`llm_orc_roundtrip`) — the second
    * COLUMNAR boundary format next to parquet (ORC ships native in
    * Spark): write the corpus out, read it back, return the rows —
    * the oracle is the documents table itself, so any loss (type
    * coercion, string mangling, row drop) hash-mismatches. Memoized
    * write once per snapshot; the read is a plain columnar scan
    * with the same pushdown/pruning properties as parquet. */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = SnapshotMemo.stored(s, d, "orc") { path =>
      docs(s, d).select(DocCols.map(col): _*)
        .write.mode("overwrite").orc(path)
    }
    s.read.orc(path).select(DocCols.map(col): _*)
  }

  /** CSV interchange roundtrip (`llm_csv_roundtrip`) — the format
    * corpora actually arrive in, with the settings that make it
    * LOSSLESS for free text: header on, quote-all + backslash
    * escape on write, `multiLine` on read so embedded newlines
    * survive, and an explicit schema (no inference drift). The
    * oracle is again the documents table verbatim — a quoting /
    * escaping / newline bug anywhere in the pair of configs
    * hash-mismatches on the text column. */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame =
    csvRead(s, SnapshotMemo.stored(s, d, "csv") { path =>
      csvWrite(docs(s, d).select(DocCols.map(col): _*), path)
    })

  /** The lossless CSV config pair — ONE definition so the write and
    * read legs (and the adversarial-text spec) cannot drift. Two
    * defaults are silently lossy and overridden here: the WRITER
    * trims leading/trailing whitespace unless told not to, and the
    * reader's default `nullValue` of "" turns every empty string
    * into null — a sentinel that cannot occur in text (U+0001)
    * keeps "" meaning "". */
  private[graft] def csvWrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("quoteAll", "true")
      .option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("nullValue", "\u0001")
      .csv(path)

  private[graft] def csvRead(s: SparkSession, path: String): DataFrame =
    s.read
      .schema("doc_id BIGINT, text STRING, lang STRING, " +
        "source STRING, n_chars BIGINT")
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .option("nullValue", "\u0001")
      .csv(path)
      .select(DocCols.map(col): _*)

  /** Compression-ratio quality pass
    * ([[graft.functions.DeflateRatio]]): per-document ×1000 deflate
    * ratio plus the repetitive-content verdict — the curation signal
    * that catches templated/keyword-stuffed text word-level
    * repetition counters miss. Pure map-side scan, the expression
    * inside whole-stage codegen; at 100 TB this rides the same
    * single corpus pass as the other hygiene filters.
    *
    * Oracle-mirrored via a GOLDEN FIXTURE: the deflate byte stream is
    * zlib-build-specific, so the SQL engine cannot recompute it —
    * instead this query first materializes (memoized, once per
    * snapshot) a golden parquet of `(doc_id, text_sha, ratio_x1000)`
    * through [[compressGoldenPath]], an INDEPENDENT plain-JVM
    * `Deflater` replay of the kernel (different buffering mechanics,
    * no Catalyst involvement), and the oracle SQL joins `documents`
    * to the golden table on `(doc_id, sha256(text))` and re-derives
    * the verdicts relationally. The content-hash join key makes the
    * fixture self-selecting: goldens for several snapshots can
    * coexist under one glob and only the matching corpus's rows
    * join (identical cross-snapshot matches collapse under
    * `DISTINCT` because the ratio is a pure function of the text).
    *
    * Verdicts branch on NULL text BEFORE the empty case — a missing
    * document and a zero-length one are different data-quality
    * signals ('null' vs 'empty'); both have no defined ratio. */
  def compressRatio(s: SparkSession, d: String): DataFrame = {
    compressGoldenPath(s, d) // materialize the oracle fixture
    compressRatioOf(docs(s, d))
  }

  /** The de-memoized core of [[compressRatio]] over an arbitrary
    * `(doc_id, text)` frame — separated so specs can drive the
    * verdict branches (null vs empty vs repetitive) on crafted
    * corpora without a snapshot directory. */
  private[graft] def compressRatioOf(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"), col("text"),
      graft.functions.DeflateRatio(col("text")).as("ratio_x1000"))
      .withColumn("verdict",
        when(col("text").isNull, lit("null"))
          .when(col("ratio_x1000").isNull, lit("empty"))
          .when(col("ratio_x1000") < 300, lit("repetitive"))
          .otherwise(lit("ok")))
      .drop("text")

  /** Builds (once per snapshot, memoized) and returns the golden
    * deflate fixture for [[compressRatio]]'s oracle: parquet rows
    * `(doc_id, text_sha, ratio_x1000)` where `text_sha` is the
    * lowercase-hex sha256 of the raw text (DuckDB's `sha256()`
    * spelling) and `ratio_x1000` is recomputed by a plain
    * `java.util.zip.Deflater` loop that shares NOTHING with the
    * Catalyst expression but the kernel definition (level 6,
    * `out*1000/raw_len`): a fixed 512-byte output buffer drained
    * incrementally, versus the expression's single sized buffer —
    * the compressed byte COUNT is invariant to output chunking, so
    * agreement pins the expression, not the plumbing. Null and
    * empty texts carry a null ratio (no defined ratio). */
  private[graft] def compressGoldenPath(s: SparkSession, d: String): String =
    SnapshotMemo.stored(s, d, "compress-golden") { path =>
      import s.implicits._
      docs(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          it.map { case (id, text) =>
            if (text == null) (id, null: String, None: Option[Long])
            else {
              val raw = text.getBytes(
                java.nio.charset.StandardCharsets.UTF_8)
              md.reset()
              val sha = md.digest(raw)
                .map(b => f"${b & 0xff}%02x").mkString
              val ratio =
                if (raw.isEmpty) None
                else {
                  val defl = new java.util.zip.Deflater(6)
                  try {
                    defl.setInput(raw)
                    defl.finish()
                    val buf = new Array[Byte](512)
                    var out = 0L
                    while (!defl.finished()) out += defl.deflate(buf)
                    Some(out * 1000L / raw.length)
                  } finally defl.end()
                }
              (id, sha, ratio)
            }
          }
        }.toDF("doc_id", "text_sha", "ratio_x1000")
        .write.mode("overwrite").parquet(path)
    }

  /** sha256 of the normalized (lowercased, whitespace-collapsed)
    * text — THE exact-dedup key, one definition for the batch query
    * and the incremental index/probe. */
  private def tokenizedKeyExpr: org.apache.spark.sql.Column =
    sha2(concat_ws(" ", tokenExpr), 256)

  /** Persisted exact-hash index over the existing snapshot:
    * (dedup_key, keep_id = min doc_id per key), read back from
    * parquet. */
  private def storedExactIndex(s: SparkSession, d: String): DataFrame =
    s.read.parquet(SnapshotMemo.stored(s, d, "exact") { path =>
      docs(s, d).filter(!expr(arrivingShardPred))
        .select(col("doc_id"), tokenizedKeyExpr.as("dedup_key"))
        .groupBy(col("dedup_key"))
        .agg(min(col("doc_id")).as("keep_id"))
        .write.mode("overwrite").parquet(path)
    })

  // ---------------------------------------------------------------
  // SimHash fingerprint: 16-bit signature, bit j = majority over the
  // document's words of bit 3 of hex digit j of md5(word). Pure
  // map-side agg; duplicate-bucket discovery is a group-by on the
  // signature.
  // ---------------------------------------------------------------
  def simhash(s: SparkSession, d: String): DataFrame = {
    val wd = tokenized(s, d)
      .select(col("doc_id"), explode(col("w")).as("word"))
      .withColumn("h", md5(col("word")))
    val sums = (1 to 16).map(j =>
      sum(when(substring(col("h"), j, 1) >= "8", 1L).otherwise(0L))
        .as(s"s$j")) :+ count(lit(1)).as("n_words")
    val g = wd.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
    g.select(col("doc_id"),
      concat((1 to 16).map(j =>
        when(col(s"s$j") * 2 >= col("n_words"), lit("1"))
          .otherwise(lit("0"))): _*).as("simhash"),
      col("n_words"))
  }

  /** 64-bit SimHash signing of an ARBITRARY (doc_id, text) frame —
    * the de-memoized core of [[simhash64]], shared with the
    * streaming near-dup gate
    * ([[graft.streaming.DocsStream.startSimhashGate]]) so a
    * micro-batch is signed by the IDENTICAL lineage the batch
    * artifact uses (one definition; a signature change reaches both
    * at once). bit j = majority over the document's words of bit
    * (j mod 4) of hex digit (j div 4 + 1) of md5(word); bands
    * returned as 4 × 16-bit integers (v0..v3). */
  private[graft] def simhashSignOf(docsDf: DataFrame): DataFrame = {
    val wd = docsDf.select(col("doc_id"), tokenExpr.as("w"))
      .select(col("doc_id"), explode(col("w")).as("word"))
      .withColumn("h", md5(col("word")))
    val sums = (0 until 64).map { j =>
      val dgt = j / 4 + 1
      val div = 1 << (3 - j % 4)
      sum(expr(s"(CAST(instr('0123456789abcdef', " +
        s"substring(h, $dgt, 1)) - 1 AS INT) div $div) % 2"))
        .as(s"s$j")
    }
    val g = wd.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sums: _*)
    // each band as an INTEGER (bit (15 - i) of band k = majority
    // bit j = 16k + i): integers keep the candidate join narrow
    // and the hamming verify a codegen bit_count(xor), not a
    // 64-way interpreted substring compare
    val bandInts = (0 until 4).map { k =>
      (0 until 16).map { i =>
        val j = 16 * k + i
        when(lit(2) * col(s"s$j") >= col("n_words"),
          lit(1L << (15 - i))).otherwise(lit(0L))
      }.reduce(_ + _).as(s"v$k")
    }
    g.select(col("doc_id") +: bandInts: _*)
  }

  /** 64-bit SimHash signature table, memoized per corpus snapshot
    * (the candidate-generation artifact, same discipline as the LSH
    * pair table): bit j = majority over the document's words of bit
    * (j mod 4) of hex digit (j div 4 + 1) of md5(word). The 16-bit
    * [[simhash]] survives as the compact fingerprint query; 64 bits
    * is what banding needs — a 16-bit signature's 4-bit bands give
    * only 16 buckets per band (corpus/16 pairs: quadratic in
    * disguise), while 16-bit bands give 65536. */
  private def simhash64(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"simhash64:$d") {
      Fixpoint.ser(simhashSignOf(docs(s, d)))
    }

  /** Distinct-signature representatives: one row per distinct 64-bit
    * signature, rep = min doc_id over the group. Exposed for the
    * adversarial scale spec, which asserts the banded join's input is
    * bounded by SIGNATURE diversity, not corpus size. */
  private[graft] def simhashReps(s: SparkSession, d: String): DataFrame =
    simhash64(s, d)
      .groupBy(col("v0"), col("v1"), col("v2"), col("v3"))
      .agg(min(col("doc_id")).as("rep"))

  /** SimHash near-dup with BANDED candidate generation — the scale
    * path the plain fingerprint lacks: split the 64-bit signature
    * into 4 × 16-bit bands; by pigeonhole any pair within hamming
    * distance 3 agrees exactly on at least one band, so candidates
    * are a self-join WITHIN band buckets (shuffle on (band, value),
    * 65536 values per band — never all-pairs), then the exact
    * 64-position hamming verify keeps distance ≤ 3.
    *
    * Degenerate-bucket guard, two tiers. The failure shape is
    * near-empty/boilerplate docs collapsing to ONE signature: k docs
    * in one (band, value) bucket is k² candidate rows before the
    * hamming filter. Tier 1 removes the shape entirely: docs sharing
    * an identical FULL 64-bit signature are hamming-0 near-dups by
    * definition, so they collapse to a group representative FIRST and
    * the group is emitted as a STAR (rep → member, hamming 0 — O(k)
    * rows, never k² enumeration); the banded join then runs over
    * DISTINCT signatures only, where a 16-bit-value bucket is bounded
    * by signature diversity. Tier 2 is the same count-then-salt cap
    * as MinHash ([[pairsFromBands]], reused verbatim) over the
    * distinct-signature bands — a hard work bound for the
    * md5-collision-grade case of > cap DISTINCT signatures agreeing
    * on one 16-bit band value. Recall is exactly 1 (pigeonhole)
    * whenever no distinct-signature bucket exceeds the cap — the
    * collapse means identical docs can never consume the cap — and
    * every hamming ≤ 3 doc pair stays connected through its reps
    * (sig(x) = sig(rep_x) ⇒ hamming(x, y) = hamming(rep_x, rep_y)).
    * The signature table is a memoized artifact, so the rep/star/band
    * legs scan it without recomputing the per-word lineage. */
  def simhashNeardup(s: SparkSession, d: String): DataFrame = {
    val sig = simhash64(s, d)
    val reps = simhashReps(s, d)
    // star edges: each non-representative member attaches to its
    // group rep at hamming 0 (rep = min doc_id, so doc_a < doc_b)
    val stars = sig.join(reps, Seq("v0", "v1", "v2", "v3"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    // banded candidates over distinct signatures, through the shared
    // salted intra-bucket pair chain (count-then-salt hard guard)
    val repBands = reps
      .select(col("rep").as("doc_id"),
        explode(expr("array(struct(0 AS band, v0 AS bv), " +
          "struct(1 AS band, v1 AS bv), struct(2 AS band, v2 AS bv), " +
          "struct(3 AS band, v3 AS bv))")).as("x"))
      .select(col("doc_id"), col("x.band").as("band"),
        col("x.bv").as("bv"))
    val ham = (0 until 4).map(k =>
      expr(s"bit_count(a$k ^ b$k)")).reduce(_ + _)
    val repPairs = pairsFromBands(repBands)
      .join(reps.select(col("rep").as("doc_a") +:
        (0 until 4).map(k => col(s"v$k").as(s"a$k")): _*), Seq("doc_a"))
      .join(reps.select(col("rep").as("doc_b") +:
        (0 until 4).map(k => col(s"v$k").as(s"b$k")): _*), Seq("doc_b"))
      .withColumn("hamming", ham.cast("bigint"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    repPairs.union(stars)
  }

  // ---------------------------------------------------------------
  // Similarity search. Vectors quantized to integer milli-units;
  // inner product on int64 is exact in both engines.
  // ---------------------------------------------------------------
  /** The shared embedding quantizer (`float → floor(x·1000)` longs)
    * — single source of truth for the batch queries, the stored ANN
    * index ([[AnnIndex]]) and the streaming probe twin, so a
    * quantizer change cannot fork the index format. */
  private[graft] val quantizeExpr =
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  private def quantized(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings").select(col("vec_id"),
      expr(quantizeExpr).as("qv"))

  private val queryIds = Seq(0L, 1L, 2L)

  /** Rank the bounded-heap top-k array produced by
    * [[graft.functions.TopKByLong]] into (q_id, vec_id, rank, ip)
    * rows — posexplode position is the rank (array is sorted
    * best-first). */
  private def explodeTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(graft.functions.TopKByLong.topK(col("ip"), col("vec_id"), k)
        .as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("p0", "x")))
      .select(col("q_id"), col("x.id").as("vec_id"),
        (col("p0") + 1).cast("int").as("rank"), col("x.score").as("ip"))

  /** Brute-force top-k by quantized inner product — the correctness
    * baseline. The query-vector side is broadcast (3 rows); the
    * corpus streams map-side through the codegen'd dot-product kernel
    * (graft.functions.DotProductLong); ranking is a bounded-heap
    * top-k AGGREGATE (graft.functions.TopKByLong), so each map task
    * reduces to ≤ k candidates per query before the exchange — a
    * window would instead shuffle the whole scored corpus into one
    * partition per query. */
  def knnBruteforce(s: SparkSession, d: String): DataFrame = {
    val v = quantized(s, d)
    val q = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("qv").as("qvec"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("ip",
        graft.functions.DotProductLong(col("qv"), col("qvec")))
    explodeTopK(scored, 10)
  }

  /** Sign-LSH bucket histogram — the scale path for ANN: vectors are
    * partitioned by the sign pattern of their first 8 components
    * (hyperplane LSH with axis-aligned planes). Search then probes
    * only the query's bucket (+ neighbors for recall) instead of the
    * full corpus. */
  private def bucketed(s: SparkSession, d: String): DataFrame =
    quantized(s, d).withColumn("bucket",
      concat((1 to 8).map(i =>
        when(expr(s"element_at(qv, $i)") >= 0, lit("1"))
          .otherwise(lit("0"))): _*))

  def annBuckets(s: SparkSession, d: String): DataFrame =
    bucketed(s, d).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"))

  /** Multi-probe bucket-pruned top-k: identical scoring to
    * [[knnBruteforce]] but candidates are restricted to the query's
    * own LSH bucket plus its 8 Hamming-distance-1 neighbors (the
    * standard multi-probe recall fix — near neighbors that straddle
    * one hyperplane land one bit away). The probe side stays k×9
    * rows and is broadcast; the corpus is hash-partitioned by bucket
    * and each query touches 9 of 256 partitions instead of scanning
    * everything. */
  def annTopk(s: SparkSession, d: String): DataFrame = {
    val v = bucketed(s, d)
    val flips = (1 to 8).map(i =>
      s"""concat(substring(bucket, 1, ${i - 1}),
         |  CASE WHEN substring(bucket, $i, 1) = '1' THEN '0' ELSE '1' END,
         |  substring(bucket, ${i + 1}, ${8 - i}))""".stripMargin)
    val q = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("qv").as("qvec"),
        explode(expr(s"array(bucket, ${flips.mkString(", ")})"))
          .as("probe_bucket"))
    val scored = v.join(broadcast(q),
        col("bucket") === col("probe_bucket") &&
          col("vec_id") =!= col("q_id"))
      .withColumn("ip",
        graft.functions.DotProductLong(col("qv"), col("qvec")))
    explodeTopK(scored, 5)
  }

  // ---------------------------------------------------------------
  // IVF (inverted-file) ANN — the second scale path, complementary
  // to sign-LSH: partition the corpus by nearest centroid, probe only
  // the nprobe closest centroid lists per query. Centroids here are a
  // deterministic sample (vec_id < 16); in production they come from
  // a k-means pass, and the corpus is *stored* partitioned by cid so
  // probing prunes partitions at the source.
  // ---------------------------------------------------------------
  private val nCentroids = 16
  private val nProbe = 2

  private def centroids(s: SparkSession, d: String): DataFrame =
    quantized(s, d).filter(col("vec_id") < nCentroids)
      .select(col("vec_id").cast("int").as("cid"), col("qv").as("cv"))

  /** Nearest-centroid assignment — fully map-side. The centroid table
    * (16 rows) is collapsed to a single sorted array-of-structs row
    * and broadcast (a 1-row nested-loop "join" = each task holds the
    * centroids); the argmax is then a row-local codegen'd kernel
    * (`nearest_centroid`: max ip, ties to smallest
    * cid via the cid-ascending sort). Zero corpus-wide exchange — the
    * corpus streams through assignment untouched, which is the shape
    * that survives 100 TB (the previous crossJoin+groupBy reduce
    * shuffled every embedding once and multiplied the scan 16×). */
  private def assigned(s: SparkSession, d: String): DataFrame =
    assignedWith(s, d, centroids(s, d))

  /** The same map-side assignment against ANY centroid table (the
    * deterministic sample, or the Lloyd-converged set) — the kernel
    * is [[AnnIndex.assign]], shared with the stored-index build. */
  private def assignedWith(
      s: SparkSession, d: String, cent: DataFrame): DataFrame =
    AnnIndex.assign(quantized(s, d), cent)

  def ivfClusters(s: SparkSession, d: String): DataFrame =
    assigned(s, d).groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"))

  /** One Lloyd (k-means) refinement iteration over the IVF
    * assignment: recompute each centroid as the integer mean of its
    * assigned quantized vectors. The heavy lifting is
    * [[graft.functions.VecSumLong]] — elementwise partial sums
    * map-side, so the exchange carries one long[dim] per (cluster,
    * partition) instead of the corpus (an explode + per-dim groupBy
    * would multiply the shuffle by the 64 dims; collect_list would
    * forfeit partial aggregation entirely). Output keeps the full
    * mean compressed to two exact integers (first component +
    * component sum) so the oracle hash stays scalar. Both engines
    * truncate integer division toward zero (verified: -7 div 2 =
    * -3 = DuckDB's (-7) // 2), so negative quantized sums agree. */
  def kmeansStep(s: SparkSession, d: String): DataFrame =
    assigned(s, d)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        graft.functions.VecSumLong.vecSum(col("qv")).as("sums"))
      .select(col("cid"), col("n_vecs"),
        expr("element_at(sums, 1) div n_vecs").as("c0"),
        expr("""aggregate(transform(sums, x -> x div n_vecs), 0L,
               |(a, b) -> a + b)""".stripMargin).as("mean_sum"))

  // ---------------------------------------------------------------
  // Full Lloyd (k-means) loop: [[kmeansStep]] iterated to a capped
  // fixpoint, feeding IVF real converged centroids instead of the
  // vec_id < 16 sample. The rounds run on [[graft.Fixpoint.iterate]];
  // convergence is an O(k) check observed on the round's 16-row
  // checkpoint, never an O(corpus) one. The iteration CAP (not just
  // "until converged") is what keeps the oracle expressible: DuckDB
  // replays exactly kmIters unrolled rounds, and once a fixpoint is
  // hit every further round reproduces it — so early exit and the
  // capped unroll agree bit-for-bit.
  // ---------------------------------------------------------------
  private[llm] val kmIters = 4

  /** Converged (capped-Lloyd) centroids — a stored artifact in a real
    * IVF index build, so memoized per corpus snapshot; two consumers
    * (the converged-centroid table and the recall re-measurement)
    * share one training run. */
  private def kmeansCentroids(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"kmeans-centroids:$d")(
      computeKmeans(s, d))

  /** The loop itself lives in [[AnnIndex.lloyd]] (shared with the
    * stored-index build, which trains on the index corpus only). */
  private def computeKmeans(s: SparkSession, d: String): DataFrame =
    AnnIndex.lloyd(s, quantized(s, d), nCentroids, kmIters)

  /** The converged centroid table, hash-compressed the same way as
    * [[kmeansStep]] (first component + component sum) so the oracle
    * row stays scalar; `n_vecs` is the final cluster population. */
  def kmeansConverged(s: SparkSession, d: String): DataFrame =
    kmeansCentroids(s, d)
      .select(col("cid"), col("n_vecs"),
        expr("element_at(cv, 1)").as("c0"),
        expr("aggregate(cv, 0L, (a, b) -> a + b)").as("csum"))

  // ---------------------------------------------------------------
  // Semantic dedup (SemDeDup-shaped, Abbas et al. 2023): embeddings
  // are clustered (the converged Lloyd centroids — reusing the IVF
  // index's own training run), each cluster keeps a deterministic
  // representative (min vec_id), and every other member whose cosine
  // to the representative exceeds a threshold is dropped as a
  // semantic duplicate. Cluster-locality is the whole trick at
  // 100 TB: candidates are only ever compared to their OWN cluster's
  // representative — no corpus self-join, no pair explosion; the
  // corpus streams map-side past a broadcast k-row representative
  // table, and the only exchange is the k-row rep selection.
  //
  // Exactness: cosine > τ is evaluated on the quantized integer
  // vectors as ip > 0 AND ip²·10⁶ > τ²·10⁶·‖a‖²·‖b‖², in 128-bit
  // integer arithmetic (DECIMAL(38,0) in Spark, HUGEINT in DuckDB) —
  // no float division, no sqrt, so the comparison can't flip between
  // engines. τ is corpus-tuned: SemDeDup uses 0.93–0.96 on normalized
  // web-crawl embeddings; the synthetic test embeddings are near-
  // orthogonal (max intra-cluster cosine ≈ 0.43 measured), so the
  // shipped gate uses τ = 0.30 to exercise the drop path (~10% of
  // vectors) rather than a vacuous always-keep.
  // ---------------------------------------------------------------
  /** τ²·10⁶ for τ = 0.30. */
  private[llm] val semDedupT2 = 90000L

  /** Per-vector semantic-dedup verdict: cluster, representative,
    * kept/dropped. */
  def semanticDedup(s: SparkSession, d: String): DataFrame =
    semanticAssigned(s, d)
      .select(col("vec_id"), col("cid"), col("rep_id"),
        when(col("sem_dup"), lit("dropped")).otherwise(lit("kept"))
          .as("verdict"))

  /** Kept-fraction measurement per cluster — the "how much did it
    * deduplicate" number, measured not claimed: n_vecs, n_dropped,
    * kept per mille. */
  def semdedupStats(s: SparkSession, d: String): DataFrame =
    semanticAssigned(s, d)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("sem_dup"), 1L).otherwise(0L)).as("n_dropped"))
      .select(col("cid"), col("n_vecs"), col("n_dropped"),
        floor(lit(1000.0) * (col("n_vecs") - col("n_dropped"))
          / col("n_vecs")).as("kept_x1000"))

  /** The shared core: converged-cluster assignment + broadcast rep
    * join + exact integer cosine gate (`sem_dup`). */
  private def semanticAssigned(s: SparkSession, d: String): DataFrame = {
    val asg = assignedWith(s, d,
      kmeansCentroids(s, d).select(col("cid"), col("cv")))
    val reps = asg.groupBy(col("cid")).agg(min(col("vec_id")).as("rep_id"))
    // rename the rep-side lineage wholesale before rejoining asg to
    // itself — Spark's ambiguous-self-join detection needs disjoint
    // attribute sets
    val asgR = asg.select(col("vec_id").as("r_vec_id"),
      col("cid").as("r_cid"), col("qv").as("rv"))
    // broadcast(reps): reps is k rows but comes from an aggregate
    // whose size estimate the planner can't trust — without the hint
    // a stats misestimate would sort-merge-shuffle the corpus-scale
    // assignment table here, a second corpus exchange
    val repVecs = broadcast(reps).join(asgR, col("rep_id") === col("r_vec_id"))
      .select(col("r_cid").as("cid"), col("rep_id"), col("rv"))
    asg.join(broadcast(repVecs), Seq("cid"))
      .withColumn("ip",
        graft.functions.DotProductLong(col("qv"), col("rv")))
      .withColumn("na2",
        graft.functions.DotProductLong(col("qv"), col("qv")))
      .withColumn("nb2",
        graft.functions.DotProductLong(col("rv"), col("rv")))
      .withColumn("sem_dup",
        col("vec_id") =!= col("rep_id") && col("ip") > 0 &&
          expr(s"""CAST(ip AS DECIMAL(38,0)) * ip * 1000000 >
                  |CAST($semDedupT2 AS DECIMAL(38,0)) * na2 * nb2"""
            .stripMargin))
  }

  /** Embedding-space outlier detection — the prototypicality filter
    * that complements semantic dedup (SemDeDup drops what is TOO
    * CLOSE to a cluster representative; quality pruning drops what
    * is too FAR from every prototype — likely mis-embedded or
    * off-distribution data). Per converged cluster, squared
    * Euclidean distance to the centroid in exact integer arithmetic
    * (‖q‖² − 2·q·c + ‖c‖², all three terms the codegen'd long dot
    * product), then the 2 farthest members per cluster via the
    * bounded-heap aggregate — map-side assignment, broadcast k-row
    * centroid join, one O(partitions × k) exchange; the corpus is
    * never shuffled. */
  def embedOutliers(s: SparkSession, d: String): DataFrame = {
    val cent = kmeansCentroids(s, d).select(col("cid"), col("cv"))
    assignedWith(s, d, cent)
      .join(broadcast(cent), Seq("cid"))
      .withColumn("ip", graft.functions.DotProductLong(col("qv"), col("cv")))
      .withColumn("n2", graft.functions.DotProductLong(col("qv"), col("qv")))
      .withColumn("c2", graft.functions.DotProductLong(col("cv"), col("cv")))
      .withColumn("dist2", col("n2") - lit(2L) * col("ip") + col("c2"))
      .groupBy(col("cid"))
      .agg(graft.functions.TopKByLong.topK(col("dist2"), col("vec_id"), 2)
        .as("tk"))
      .select(col("cid"), posexplode(col("tk")).as(Seq("p0", "t")))
      .select(col("cid"), col("t.id").as("vec_id"),
        col("t.score").as("dist2"),
        (col("p0") + 1).cast("int").as("rank"))
  }

  /** IVF search: rank centroids per query, probe the top-`nProbe`
    * inverted lists, exact-score only those candidates, bounded-heap
    * top-5. The probe side is (k queries × nProbe) rows — broadcast;
    * the corpus side is touched only in the probed clusters. */
  def ivfTopk(s: SparkSession, d: String): DataFrame =
    ivfTopkWith(s, d, centroids(s, d))

  /** The probe-and-score pipeline against ANY centroid table; the
    * corpus-side inverted lists are the assignment against the SAME
    * table (in a stored index these are the on-disk partitions). */
  private def ivfTopkWith(
      s: SparkSession, d: String, cent: DataFrame): DataFrame = {
    val q = quantized(s, d).filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("qv").as("qvec"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cip").desc, col("cid"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("cip",
        graft.functions.DotProductLong(col("qvec"), col("cv")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("qvec"), col("cid").as("probe_cid"))
    val scored = assignedWith(s, d, cent).join(broadcast(probes),
        col("cid") === col("probe_cid") && col("vec_id") =!= col("q_id"))
      .withColumn("ip",
        graft.functions.DotProductLong(col("qv"), col("qvec")))
    explodeTopK(scored, 5)
  }

  /** Recall@5 of an approximate top-k against the exact brute-force
    * ranking — "measure, don't guess" for the approximations: ANN
    * quality is a number in the test suite, not a claim. Reuses both
    * query pipelines; the join is k-sized. */
  private def recallAgainstExact(s: SparkSession, d: String,
      approxTopK: DataFrame): DataFrame = {
    val exact = knnBruteforce(s, d).filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id"))
    val approx = approxTopK
      .select(col("q_id").as("aq"), col("vec_id").as("av"))
    exact.join(approx,
        col("q_id") === col("aq") && col("vec_id") === col("av"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("av")).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        floor(lit(1000.0) * col("n_hits") / 5).as("recall_x1000"))
  }

  /** Recall@5 of the multi-probe sign-LSH path. */
  def annRecall(s: SparkSession, d: String): DataFrame =
    recallAgainstExact(s, d, annTopk(s, d))

  /** Recall@5 of the IVF path (nprobe=2 of 16 lists). */
  def ivfRecall(s: SparkSession, d: String): DataFrame =
    recallAgainstExact(s, d, ivfTopk(s, d))

  /** Recall@5 of IVF over the CONVERGED k-means centroids at the
    * same nprobe — measured, not assumed, directly comparable against
    * [[ivfRecall]]'s sample-centroid number. Measured outcome at
    * sf0.01 (500 vectors, 16 lists, nprobe 2): 800/800/600 vs the
    * sample centroids' 1000/1000/600 — within per-query noise at 31
    * vectors/list (both clusterings are balanced; a ±2-hit swing is
    * one borderline neighbor straddling a list boundary). The loop's
    * value is structural: it IS the index-build path a real corpus
    * needs, where sample centroids degenerate and Lloyd's balance is
    * what keeps nprobe/nlists the knob that trades recall for scan
    * fraction. */
  def ivfKmeansRecall(s: SparkSession, d: String): DataFrame =
    recallAgainstExact(s, d, ivfTopkWith(s, d,
      kmeansCentroids(s, d).select(col("cid"), col("cv"))))

  // ---------------------------------------------------------------
  // Stored ANN index + incremental probe — the vector lane's
  // maintenance ladder, mirroring the dedup family's
  // (DedupIndex/storedIndex → dedupIncremental → DocsStream twin):
  // a weekly 100 TB pipeline never re-trains or re-assigns the
  // whole corpus when a shard of new embeddings arrives; it keeps
  // the converged IVF structure (centroids + inverted-list
  // assignments, partitioned by list on disk) as a persisted
  // artifact and probes just the arriving vectors against it.
  // ---------------------------------------------------------------
  /** The arriving shard of the vector corpus (the [[arrivingShardPred]]
    * convention, on vec_id). */
  private[graft] val arrivingVecPred = "vec_id % 10 = 7"

  /** The persisted IVF index for snapshot `d`: capped-Lloyd
    * centroids TRAINED ON THE INDEX CORPUS ONLY (arriving vectors
    * excluded — they don't exist at build time) + every index
    * vector's assignment, written partitioned by `cid` so the
    * inverted lists are physical partition directories. Built at
    * most once per session ([[SnapshotMemo.stored]]) and read back
    * from parquet — every probe consumes the artifact, not the
    * lineage. */
  private[llm] def storedAnnIndex(s: SparkSession, d: String): AnnIndex.Stored =
    AnnIndex.read(s, SnapshotMemo.stored(s, d, "ann") { path =>
      AnnIndex.write(s, quantized(s, d).filter(!expr(arrivingVecPred)),
        path, nCentroids, kmIters)
    })

  /** Incremental ANN probe (`llm_ivf_incremental`): every vector of
    * the arriving shard gets its top-5 neighbors from the STORED
    * index — arriving side assigned/ranked against the ≤16 stored
    * centroids (delta-sized window), probe set broadcast against
    * the index's assignment scan (nprobe partition directories
    * only, pruned at the source), bounded-heap ranking. The oracle
    * replays the whole ladder: index/arriving split, the unrolled
    * Lloyd training over the index corpus, final assignment, probe
    * ranking and top-5 — the `llm_dedup_incremental` shape for
    * vectors. */
  def ivfIncremental(s: SparkSession, d: String): DataFrame =
    AnnIndex.probe(quantized(s, d).filter(expr(arrivingVecPred)),
      storedAnnIndex(s, d), 5, nProbe)

  /** The persisted PQ layer over the stored ANN index — residual
    * codebooks (sample rule over the INDEX corpus) + every member's
    * sub-codes, codes partitioned by cid beside the assignment
    * store. Built at most once per session; every probe reads the
    * artifact. */
  private[llm] def storedPqIndex(s: SparkSession, d: String): AnnIndex.StoredPq = {
    val ann = storedAnnIndex(s, d)
    AnnIndex.readPq(s, SnapshotMemo.stored(s, d, "ann-pq") { path =>
      AnnIndex.writePq(s, ann, path, pqSub, pqDim, nCentroids)
    })
  }

  /** Incremental IVFPQ probe (`llm_ivfpq_incremental`): every
    * arriving vector gets its top-5 ADC neighbors from the STORED
    * fused index — coarse lists ranked per query, nprobe pruned,
    * per-subspace LUTs against the stored residual codebooks, and
    * the scan reads only the 5-byte CODE rows of the probed lists
    * (the embedding column never enters the search). The oracle
    * replays the whole ladder: index/arriving split, unrolled Lloyd
    * training, residuals, sample codebooks, per-subspace codes,
    * nprobe ranking and the fused ADC top-5. */
  def ivfpqIncremental(s: SparkSession, d: String): DataFrame =
    AnnIndex.probePq(quantized(s, d).filter(expr(arrivingVecPred)),
      storedAnnIndex(s, d), storedPqIndex(s, d), 5, ivfpqProbe,
      pqSub, pqDim)

  /** IVF drift / re-train signal (`llm_ivf_drift`): the stored
    * index never re-trains on an append ([[AnnIndex.extend]]), so
    * something must MEASURE when the frozen centroids stop fitting
    * the data. Per inverted list: member count and assignment-mass
    * share (×1000) of the indexed corpus vs the arriving shard, and
    * the mean member→centroid inner product of each (the engine's
    * similarity metric — a FALLING arriving-side mean or a mass
    * share diverging from the indexed share is the drift signal a
    * maintenance loop thresholds to trigger the re-train backfill).
    * Reads ONLY the stored artifacts + the arriving shard: the
    * indexed side is one map-side pass over the assignment scan
    * (centroids broadcast), the arriving side is the same map-side
    * [[AnnIndex.assign]] the extend path uses, and everything after
    * the two per-cid aggregates is ≤ nCentroids rows. All integers
    * (counts, floor-div shares and means — the `div`/`//` pairing
    * of the k-means ladder). */
  def ivfDrift(s: SparkSession, d: String): DataFrame =
    AnnIndex.drift(storedAnnIndex(s, d),
      quantized(s, d).filter(expr(arrivingVecPred)))

  /** Drift-TREND decision frame (`llm_ivf_drift_trend`): the
    * maintenance query above the per-shard signal — the arriving
    * stream's drift-frame SERIES (here the arriving corpus split
    * into three deterministic micro-batches by `vec_id % 3`, each
    * measured by the same [[AnnIndex.drift]] the streaming monitor
    * runs per batch) aggregated by [[AnnIndex.driftTrend]] over the
    * trailing window: per inverted list, min/max |arriving −
    * indexed| share delta and the `sustained` verdict that gates
    * [[AnnIndex.retrainIfTrendDrifted]] — 1 only when EVERY frame
    * in a full window drifted past the threshold, so a one-batch
    * spike can never fire the re-train backfill. Each frame reads
    * only stored artifacts + its shard; the trend is ≤ window × k
    * rows of integer arithmetic. */
  def ivfDriftTrend(s: SparkSession, d: String): DataFrame = {
    val stored = storedAnnIndex(s, d)
    val arr = quantized(s, d).filter(expr(arrivingVecPred))
    val frames = (0 until 3).map(b =>
      AnnIndex.drift(stored, arr.filter(col("vec_id") % 3 === b))
        .withColumn("batch_seq", lit(b.toLong)))
      .reduce(_ union _)
    AnnIndex.driftTrend(frames, 3, 100L)
  }

  /** Recall@5 of the PQ-ADC path — what 4-byte codes cost in
    * ranking quality vs the exact scan; completes the measured
    * recall trio (sign-LSH, IVF, PQ). */
  def pqRecall(s: SparkSession, d: String): DataFrame =
    recallAgainstExact(s, d, pqAdcTopk(s, d))

  /** MinHash Jaccard ESTIMATE (matching signature lanes / 8) for each
    * LSH candidate pair — the sketch-side number to hold against the
    * exact [[ngramJaccard]] verification; per-pair map-side compare
    * over the already-aggregated signatures. */
  def minhashEst(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSig(s, d)
    val matches = (1 to 8).map(j =>
      when(col(s"x.h$j") === col(s"y.h$j"), 1).otherwise(0))
      .reduce(_ + _)
    dedupMinhash(s, d)
      .join(sig.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sig.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        floor(lit(1000.0) * matches / 8).as("est_jaccard_x1000"))
  }

  // ---------------------------------------------------------------
  // Product quantization (PQ) — the memory-bandwidth workhorse of
  // large-scale ANN: each vector is stored as m sub-centroid ids
  // (here 4 × 16 centroids = 4 bytes/vector instead of 512). Code
  // assignment is the SAME map-side argmax shape as IVF: the m
  // per-subspace centroid tables ride along as one broadcast row and
  // each code is a row-local NearestCentroid call over the vector
  // slice — zero corpus exchange, max-inner-product metric
  // (consistent with the engine's other similarity ops).
  // ---------------------------------------------------------------
  private val pqSub = 4
  private val pqDim = 16 // 64-dim embeddings / 4 subspaces

  /** The per-subspace centroid arrays collapsed to ONE broadcastable
    * row — shared by code assignment ([[pqCodes]]) and LUT
    * construction ([[pqAdcTopk]]): a sub-centroid layout change must
    * reach both at once. */
  private def pqCentArr(s: SparkSession, d: String): DataFrame = {
    val centAgg = (1 to pqSub).map(j =>
      sort_array(collect_list(struct(col("cid"),
        expr(s"slice(cv, ${(j - 1) * pqDim + 1}, $pqDim)").as("cv"))))
        .as(s"cents$j"))
    centroids(s, d).agg(centAgg.head, centAgg.tail: _*)
  }

  /** Codes are a stored artifact in a real PQ index (that is the
    * whole point — 4 bytes/vector on disk); memoized per corpus
    * snapshot so the three consumers (codes table, ADC search, ADC
    * recall) share one assignment scan. */
  def pqCodes(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"pq-codes:$d")(
      Fixpoint.ser(computePqCodes(s, d)))

  private def computePqCodes(s: SparkSession, d: String): DataFrame =
    quantized(s, d).crossJoin(broadcast(pqCentArr(s, d)))
      .select(col("vec_id") +: (1 to pqSub).map(j =>
        NativeFunctions.nearestCentroid(
          expr(s"slice(qv, ${(j - 1) * pqDim + 1}, $pqDim)"),
          col(s"cents$j")).as(s"c$j")): _*)

  /** PQ asymmetric-distance (ADC) top-k — the search half of product
    * quantization ([[pqCodes]] is the indexing half): each query
    * precomputes a 4×16 lookup table of inner products against the
    * sub-centroids, and a corpus vector's approximate score is four
    * table lookups + three adds over its stored codes. This is THE
    * memory-bandwidth ANN path: at 100 TB the scan reads 4 bytes of
    * codes per vector instead of the embedding, the LUTs broadcast
    * (nq × 64 longs), scoring is map-side, and the bounded-heap
    * `top_k_l` keeps the exchange at O(partitions × k). */
  def pqAdcTopk(s: SparkSession, d: String): DataFrame = {
    // LUTs are cid-keyed MAPS, not positional arrays: positions only
    // equal cids when the centroid id space is dense, and the oracle
    // joins by cid — a gap would silently shift every later lookup
    val luts = quantized(s, d).filter(col("vec_id").isin(queryIds: _*))
      .crossJoin(broadcast(pqCentArr(s, d)))
      .select(col("vec_id").as("q_id") +: (1 to pqSub).map(j =>
        map_from_entries(transform(col(s"cents$j"), c =>
          struct(c.getField("cid"),
            graft.functions.DotProductLong(
              expr(s"slice(qv, ${(j - 1) * pqDim + 1}, $pqDim)"),
              c.getField("cv"))))).as(s"lut$j")): _*)
    val scoreExpr = (1 to pqSub).map(j =>
      s"element_at(lut$j, c$j)").mkString(" + ")
    val scored = pqCodes(s, d).crossJoin(broadcast(luts))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), expr(scoreExpr).as("ip"))
    explodeTopK(scored, 5).withColumnRenamed("ip", "adc_ip")
  }

  // ---------------------------------------------------------------
  // IVF+PQ fusion — the canonical billion-scale ANN layout (the
  // FAISS IVFPQ structure, rebuilt from its public description):
  // coarse-quantize each vector to an inverted list, PQ-encode its
  // RESIDUAL against per-subspace codebooks, and search with ADC
  // over only the probed lists: score = q·c_list + Σ_j LUT_j[code].
  // Storage per vector is a list id + m sub-codes (5 bytes here);
  // the residual encoding is what makes PQ accurate at scale — the
  // codebooks only have to cover the within-list spread, not the
  // whole space. At 100 TB: lists are physical partitions (probing
  // prunes at the source, the stored-ANN discipline), the scan
  // reads codes not embeddings, LUTs + probed-list table broadcast,
  // ranking is the bounded heap.
  // ---------------------------------------------------------------
  private val ivfpqProbe = 4

  /** Coarse assignment + integer residual per vector — the encode
    * side's shared front half: map-side argmax against the
    * broadcast coarse table, then an elementwise zip_with. */
  private def ivfpqResiduals(s: SparkSession, d: String): DataFrame =
    assigned(s, d)
      .join(broadcast(centroids(s, d)), "cid")
      .select(col("vec_id"), col("cid"),
        expr("zip_with(qv, cv, (x, y) -> x - y)").as("rv"))

  /** Per-subspace RESIDUAL codebooks (the sample rule on the
    * residual table: vec_id < 16), collapsed to one broadcastable
    * row — shared by encode and LUT construction. */
  private def ivfpqCentArr(s: SparkSession, d: String): DataFrame = {
    val res = ivfpqResiduals(s, d).filter(col("vec_id") < nCentroids)
    val centAgg = (1 to pqSub).map(j =>
      sort_array(collect_list(struct(
        col("vec_id").cast("int").as("cid"),
        expr(s"slice(rv, ${(j - 1) * pqDim + 1}, $pqDim)").as("cv"))))
        .as(s"cents$j"))
    res.agg(centAgg.head, centAgg.tail: _*)
  }

  /** The IVFPQ index rows: list id + m sub-codes per vector (the
    * stored layout of the fused index). Same zero-exchange shape as
    * [[pqCodes]] — assignment and encode are both row-local kernels
    * against broadcast tables. */
  private def ivfpqCodes(s: SparkSession, d: String): DataFrame =
    ivfpqResiduals(s, d).crossJoin(broadcast(ivfpqCentArr(s, d)))
      .select(col("vec_id") +: col("cid") +: (1 to pqSub).map(j =>
        NativeFunctions.nearestCentroid(
          expr(s"slice(rv, ${(j - 1) * pqDim + 1}, $pqDim)"),
          col(s"cents$j")).as(s"c$j")): _*)

  /** IVFPQ ADC top-k (`llm_ivfpq_topk`) — the fused search: each
    * query ranks the 16 coarse lists (bounded-heap, ties to the
    * smallest cid), takes nprobe = 4, precomputes per-subspace LUTs
    * against the RESIDUAL codebooks, and scores only the probed
    * lists' codes as list_ip + four LUT lookups. Everything the
    * corpus-side scan touches is codes + two broadcast smalls
    * (probed-list table: nq × 4 rows; LUTs: nq × 64 longs); the
    * exchange is the bounded heap's O(partitions × k). */
  def ivfpqTopk(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d).filter(col("vec_id").isin(queryIds: _*))
    // nprobe coarse lists per query, ranked by the same bounded heap
    val coarse = q.crossJoin(broadcast(centroids(s, d)))
      .select(col("vec_id").as("q_id"),
        col("cid").cast("long").as("vec_id"),
        graft.functions.DotProductLong(col("qv"), col("cv")).as("ip"))
    val lists = explodeTopK(coarse, ivfpqProbe)
      .select(col("q_id").as("lq"), col("vec_id").cast("int").as("pcid"),
        col("ip").as("list_ip"))
    // per-subspace LUTs over the residual codebooks (cid-keyed maps)
    val luts = q.crossJoin(broadcast(ivfpqCentArr(s, d)))
      .select(col("vec_id").as("q_id") +: (1 to pqSub).map(j =>
        map_from_entries(transform(col(s"cents$j"), c =>
          struct(c.getField("cid"),
            graft.functions.DotProductLong(
              expr(s"slice(qv, ${(j - 1) * pqDim + 1}, $pqDim)"),
              c.getField("cv"))))).as(s"lut$j")): _*)
    val scoreExpr = (1 to pqSub).map(j =>
      s"element_at(lut$j, c$j)").mkString("list_ip + ", " + ", "")
    val scored = ivfpqCodes(s, d)
      .join(broadcast(lists), col("cid") === col("pcid"))
      .join(broadcast(luts), col("lq") === col("q_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), expr(scoreExpr).as("ip"))
    explodeTopK(scored, 5)
  }

  /** Recall@5 of the fused IVFPQ path against exact brute force —
    * measured, not assumed, like every other approximation here. */
  def ivfpqRecall(s: SparkSession, d: String): DataFrame =
    recallAgainstExact(s, d, ivfpqTopk(s, d))

  /** Embedding-cosine near-dup: pairs above a similarity threshold,
    * generated strictly *within* sign-LSH buckets (the embeddings are
    * ~unit-norm, so the quantized inner product ≈ cosine × 10⁶). Same
    * scale shape as [[dedupMinhash]]: one shuffle on the bucket key,
    * intra-bucket pairing only — never an O(n²) cross-join. Recall is
    * tuned by bucket bits / multi-probe, not by widening the join. */
  def embedNeardup(s: SparkSession, d: String): DataFrame = {
    val v = bucketed(s, d)
    v.groupBy(col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("qv"))).as("xs"))
      .filter(size(col("xs")) > 1)
      .select(explode(expr(
        """flatten(transform(xs, (a, i) ->
          |  transform(slice(xs, i + 2, size(xs)),
          |    b -> struct(least(a.vec_id, b.vec_id) AS vec_a,
          |                greatest(a.vec_id, b.vec_id) AS vec_b,
          |                aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y),
          |                          0L, (acc, p) -> acc + p) AS ip))))""".stripMargin))
        .as("p"))
      .select(col("p.vec_a"), col("p.vec_b"), col("p.ip"))
      .filter(col("ip") >= 200000L) // cosine ≳ 0.2 on unit-norm vectors
  }

  // ---------------------------------------------------------------
  // Deterministic sampling — the reproducible way to subsample a
  // training corpus. Hash-based bottom-k IS a uniform sample (md5 of
  // the key is uniform; taking the k smallest hashes is the classic
  // bottom-k/MinHash sampling scheme) and, unlike rand()-based
  // sampling, is stable across runs, engines, and partitionings.
  // ---------------------------------------------------------------

  /** Uniform corpus sample: the 100 docs with the smallest key hash.
    * ORDER BY + LIMIT plans as TakeOrderedAndProject (per-partition
    * heap + driver merge of 100 rows — no global sort at any scale). */
  def sampleBottomK(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(100)

  /** WARC record-stream ingest (`llm_warc_records`) — the wire
    * format of web-scale training corpora (Common Crawl ships as
    * WARC): per-document two-record archives (a warcinfo, then a
    * response whose WARC/1.1 version line, target URI and varying
    * body length exercise the walk) are parsed by the native
    * `warc_records` codegen expression — a
    * CONTENT-LENGTH-DRIVEN walk, never a magic scan, fail-closed on
    * malformed streams — and exploded to one row per record with
    * the body fingerprinted. The oracle rebuilds the identical
    * archive text and replays the expected records from the fixture
    * components, so a parser that mis-measures any header line, the
    * declared block, or the record separator desynchronizes and
    * hash-mismatches. Map-side construct → parse → explode; no
    * shuffle. At crawl scale the parallel grain is the archive
    * OBJECT (Common Crawl's own millions-of-~1GB-files layout), so
    * the per-payload walk is the production shape. */
  def warcRecords(s: SparkSession, d: String): DataFrame = {
    val crlf = "chr(13) || chr(10)"
    docs(s, d)
      .select(col("doc_id"),
        expr("repeat('x', CAST(doc_id % 20 AS INT) + 1)").as("b1"),
        expr("concat('doc ', CAST(doc_id AS STRING), ' ', " +
          "repeat('y', CAST(doc_id % 37 AS INT)))").as("b2"),
        expr("concat('http://ex.com/', CAST(doc_id AS STRING))")
          .as("uri"))
      .withColumn("payload", expr(
        s"""CAST(concat(
           |  'WARC/1.0', $crlf,
           |  'WARC-Type: warcinfo', $crlf,
           |  'Content-Length: ', CAST(octet_length(b1) AS STRING), $crlf,
           |  $crlf, b1, $crlf, $crlf,
           |  'WARC/1.1', $crlf,
           |  'WARC-Type: response', $crlf,
           |  'WARC-Target-URI: ', uri, $crlf,
           |  'Content-Length: ', CAST(octet_length(b2) AS STRING), $crlf,
           |  $crlf, b2, $crlf, $crlf) AS BINARY)""".stripMargin))
      .withColumn("recs", NativeFunctions.warcRecords(col("payload")))
      .select(col("doc_id"),
        posexplode(col("recs")).as(Seq("rec_idx", "r")))
      .select(col("doc_id"), col("rec_idx").cast("int").as("rec_idx"),
        col("r.rec_type").as("rec_type"), col("r.uri").as("uri"),
        col("r.content_length").as("content_length"),
        md5(col("r.body")).as("body_md5"))
  }

  /** Gzipped-WARC round-trip (`llm_warc_gz`) — the wire format
    * Common Crawl ACTUALLY ships (`.warc.gz`, one gzip member per
    * record, members back-to-back so consumers can enter at any
    * member boundary): the same two-record fixture as
    * [[warcRecords]], but each record is compressed into its own
    * gzip member ([[graft.functions.GzipMember]]) and the members
    * concatenated before parsing — so the query only matches the
    * plain-WARC oracle if the JDK multi-member inflate walk
    * ([[Warc.gunzipMembers]]) recovers every record byte-exactly
    * through compression. Map-side construct → compress → inflate →
    * parse → explode; no shuffle. */
  def warcGz(s: SparkSession, d: String): DataFrame = {
    val crlf = "chr(13) || chr(10)"
    docs(s, d)
      .select(col("doc_id"),
        expr("repeat('x', CAST(doc_id % 20 AS INT) + 1)").as("b1"),
        expr("concat('doc ', CAST(doc_id AS STRING), ' ', " +
          "repeat('y', CAST(doc_id % 37 AS INT)))").as("b2"),
        expr("concat('http://ex.com/', CAST(doc_id AS STRING))")
          .as("uri"))
      .withColumn("r1", expr(
        s"""CAST(concat(
           |  'WARC/1.0', $crlf,
           |  'WARC-Type: warcinfo', $crlf,
           |  'Content-Length: ', CAST(octet_length(b1) AS STRING), $crlf,
           |  $crlf, b1, $crlf, $crlf) AS BINARY)""".stripMargin))
      .withColumn("r2", expr(
        s"""CAST(concat(
           |  'WARC/1.1', $crlf,
           |  'WARC-Type: response', $crlf,
           |  'WARC-Target-URI: ', uri, $crlf,
           |  'Content-Length: ', CAST(octet_length(b2) AS STRING), $crlf,
           |  $crlf, b2, $crlf, $crlf) AS BINARY)""".stripMargin))
      .withColumn("payload", concat(
        NativeFunctions.gzipMember(col("r1")),
        NativeFunctions.gzipMember(col("r2"))))
      .withColumn("recs", NativeFunctions.warcRecords(col("payload")))
      .select(col("doc_id"),
        posexplode(col("recs")).as(Seq("rec_idx", "r")))
      .select(col("doc_id"), col("rec_idx").cast("int").as("rec_idx"),
        col("r.rec_type").as("rec_type"), col("r.uri").as("uri"),
        col("r.content_length").as("content_length"),
        md5(col("r.body")).as("body_md5"))
  }

  /** Tag-strip + whitespace-normalize patterns shared verbatim by
    * the engine (Java regex) and the oracle (RE2) — no lookaround,
    * leftmost-greedy in both, the [[piiScrub]] compatibility
    * discipline. */
  private[llm] val htmlTagRe = "<[^>]+>"
  private[llm] val wsRunRe = "\\s+"

  /** Crawl → training-docs ingest (`llm_warc_ingest`) — the chain a
    * 100 TB web corpus actually runs, composed from
    * [[warcRecords]]'s parser: explode response records, split the
    * HTTP message at its header/body boundary (offset arithmetic —
    * first CRLF, first blank line), GATE on status 200 + text/html
    * (the fixture plants 404s and PDFs that must fall out), strip
    * tags, normalize whitespace, and emit per-page rows with token
    * counts and a content fingerprint — the table every downstream
    * dedup/quality operator in this engine consumes. Each document's
    * REAL text rides inside the archive body, so the ingest must
    * recover it byte-exactly through the WARC walk + HTTP split +
    * tag strip; the oracle replays the same arithmetic and regexes
    * (RE2-compatible by construction) on the rebuilt archives.
    * Map-side end to end; the only exchange is whatever the
    * downstream consumer adds. */
  def warcIngest(s: SparkSession, d: String): DataFrame = {
    val crlf = "chr(13) || chr(10)"
    val archived = docs(s, d)
      .select(col("doc_id"), col("text"),
        expr("concat('http://ex.com/', CAST(doc_id AS STRING))")
          .as("uri"))
      .withColumn("http", expr(
        s"""CASE
           |  WHEN doc_id % 7 = 0 THEN concat(
           |    'HTTP/1.1 404 Not Found', $crlf,
           |    'Server: graft/1.0', $crlf,
           |    'Content-Type: text/html', $crlf, $crlf,
           |    '<html>not found</html>')
           |  WHEN doc_id % 5 = 0 THEN concat(
           |    'HTTP/1.1 200 OK', $crlf,
           |    'Content-Type: application/pdf', $crlf,
           |    'Date: Mon, 01 Jan 2024 00:00:00 GMT', $crlf, $crlf,
           |    '%PDF-1.4 junk')
           |  WHEN doc_id % 3 = 0 THEN concat(
           |    'HTTP/1.1 200 OK', $crlf,
           |    'Server: nginx', $crlf,
           |    'content-type: Text/HTML; charset=UTF-8', $crlf, $crlf,
           |    '<html><body><h1>Doc ', CAST(doc_id AS STRING),
           |    '</h1><p>', text, '</p></body></html>')
           |  ELSE concat(
           |    'HTTP/1.1 200 OK', $crlf,
           |    'Content-Type: text/html', $crlf,
           |    'Content-Language: en', $crlf, $crlf,
           |    '<html><body><h1>Doc ', CAST(doc_id AS STRING),
           |    '</h1><p>', text, '</p></body></html>')
           |END""".stripMargin))
      .withColumn("payload", expr(
        s"""CAST(concat(
           |  'WARC/1.0', $crlf,
           |  'WARC-Type: response', $crlf,
           |  'WARC-Target-URI: ', uri, $crlf,
           |  'Content-Length: ', CAST(octet_length(http) AS STRING), $crlf,
           |  $crlf, http, $crlf, $crlf) AS BINARY)""".stripMargin))
    ingestArchives(
      archived.select(col("doc_id"), col("payload")), Seq(col("doc_id")))
  }

  /** [[warcIngest]]'s chain over any frame with a `payload` binary
    * column (shared shape-for-shape with the streaming twin
    * [[graft.streaming.DocsStream.startWarcIngest]] — ONE logical
    * definition, two execution modes): parse, keep responses, split
    * the HTTP message by offset arithmetic, gate, clean, fingerprint.
    * `keep` columns pass through (doc_id for the batch fixture,
    * nothing for raw archive files whose identity is the URI). */
  private[graft] def ingestArchives(in: DataFrame,
      keep: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val crlf = "chr(13) || chr(10)"
    in
      .withColumn("recs", NativeFunctions.warcRecords(col("payload")))
      .select(keep :+ explode(col("recs")).as("r"): _*)
      .filter(col("r.rec_type") === "response")
      .withColumn("msg", col("r.body"))
      // status from the fixed-width code field (RFC 9112's status
      // line IS positional); headers parsed LINE-WISE within the
      // header region — real responses carry Server/Date/charset
      // and put Content-Type anywhere, so a fixed-offset grab after
      // the first CRLF captures the wrong header block. The name
      // match is case-insensitive and media-type parameters
      // (`; charset=...`) are stripped, per RFC 9110 §8.3.
      .withColumn("status",
        expr("CAST(substring(msg, 10, 3) AS INT)"))
      .withColumn("he", expr(s"instr(msg, $crlf || $crlf)"))
      .withColumn("hdrs", expr("substring(msg, 1, he + 1)"))
      .withColumn("ctype", lower(trim(regexp_extract(col("hdrs"),
        "(?i)\\r\\n[ \\t]*content-type[ \\t]*:[ \\t]*([^\\r\\n;]+)",
        1))))
      .withColumn("page", expr("substring(msg, he + 4)"))
      .filter(col("status") === 200 && col("ctype") === "text/html")
      .withColumn("clean", trim(regexp_replace(
        regexp_replace(col("page"), htmlTagRe, " "), wsRunRe, " ")))
      .select(keep ++ Seq(col("r.uri").as("uri"),
        size(split(col("clean"), wsRunRe)).cast("bigint")
          .as("n_tokens"),
        length(col("clean")).cast("bigint").as("n_chars"),
        md5(col("clean")).as("text_md5")): _*)
  }

  /** WEIGHTED deterministic sampling (`llm_sample_weighted`) — the
    * curation knob the uniform bottom-k lacks: a document with
    * priority tier w competes with the MINIMUM of w independent
    * hash draws (min-stability — the integer-exact relative of
    * Efraimidis–Spiliotopoulos keys and Cohen's bottom-k sketches
    * with multiplicity), so higher-priority docs win sample slots
    * proportionally more often, yet the sample is a pure function
    * of (doc_id, weight): reproducible across runs, engines, and
    * re-shards — the property a training-data lottery needs for
    * audits. The whole key is ONE map-side expression (nested
    * `transform` + `array_min`, no explode, no groupBy), and the
    * top-100 rides `ORDER BY … LIMIT` → TakeOrderedAndProject
    * (per-partition heaps, never a global sort) — the same scan
    * shape as [[sampleBottomK]] with the weight folded into the
    * key. Weights are small integer tiers (here doc_id-derived; in
    * production a source-curation map). */
  def sampleWeighted(s: SparkSession, d: String): DataFrame =
    sampleWeightedOf(docs(s, d)
      .select(col("doc_id"), col("source"),
        expr("CAST(doc_id % 4 AS INT) + 1").as("weight")), 100)

  /** [[sampleWeighted]]'s core over an explicit (doc_id, source,
    * weight) frame (spec surface). */
  private[graft] def sampleWeightedOf(in: DataFrame, k: Int): DataFrame =
    in.withColumn("skey", expr(
        "array_min(transform(transform(sequence(1, weight), " +
          "r -> md5(concat(CAST(doc_id AS STRING), ':', " +
          "CAST(r AS STRING)))), " +
          s"h -> (${hexHashExpr("instr")})))"))
      .orderBy(col("skey"), col("doc_id"))
      .limit(k)

  /** Stratified sample: 3 docs per language, smallest key hash first
    * — the same bounded-heap top-k aggregate as the kNN queries, with
    * the negated integer hash as the score (one partial-aggregated
    * shuffle on lang; never a per-stratum sort of the corpus). */
  /** Deterministic per-group bottom-k by doc-id hash — THE sampling
    * kernel shared by [[sampleStratified]] and [[mixSample]] (one
    * partial-aggregated shuffle on the group column, never a
    * per-group sort of the corpus). */
  private def hashSampleRanked(s: SparkSession, d: String,
      group: String, k: Int): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col(group),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("wh", expr(hexHashExpr("instr")))
      .groupBy(col(group))
      .agg(graft.functions.TopKByLong.topK(-col("wh"), col("doc_id"), k)
        .as("tk"))
      .select(col(group), posexplode(col("tk")).as(Seq("p0", "x")))
      .select(col(group), col("x.id").as("doc_id"),
        (col("p0") + 1).cast("int").as("rank"))

  def sampleStratified(s: SparkSession, d: String): DataFrame =
    hashSampleRanked(s, d, "lang", 3)

  /** Max per-source quota of the mixing recipe below; the heap k and
    * the quota formula MUST share this bound — a heap smaller than
    * the largest quota would silently under-sample that source
    * (surfacing only as an oracle hash mismatch). */
  private val mixMaxQuota = 3

  /** Weighted data-mixing sample: each source contributes a
    * per-source quota of deterministically-sampled documents (the
    * mixing-recipe step that turns [[sourceStats]] into an actual
    * training mix). Quotas derive from a hash of the source NAME
    * (`hash(source) % mixMaxQuota + 1`, standing in for the recipe's
    * weights) — name-agnostic, so an unconventional source value can
    * never silently under-produce (parsing digits out of the name
    * would). The heap aggregate takes the MAX quota per group; the
    * variable quota is a post-filter on rank over group-sized data. */
  def mixSample(s: SparkSession, d: String): DataFrame =
    hashSampleRanked(s, d, "source", mixMaxQuota)
      .withColumn("h", md5(col("source")))
      .withColumn("q",
        expr(hexHashExpr("instr")) % mixMaxQuota + 1)
      .filter(col("rank") <= col("q"))
      .drop("h", "q")

  /** Temperature-based mixture sampling (`llm_mix_temperature`) —
    * the α = 1/2 sampling rule multilingual/multi-source LM
    * training uses to keep big sources from drowning small ones:
    * per-source CHARACTER mass → integer square root (the
    * temperature transform, exact: `floor(sqrt)` of a < 2^53
    * integer is correctly rounded in both engines) → a
    * 200-document budget split by integer-division shares → the
    * quota filled by deterministic seeded-md5 rank within each
    * source (the [[mixSample]] pick rule, so resampling is
    * reproducible). Sources whose share rounds to zero drop out —
    * mirrored in the oracle. Scale shape: the mass/quota side is
    * source-count-sized and broadcast; the corpus side goes through
    * the same bounded-heap bottom-k kernel as every sibling sampler
    * ([[hashSampleRanked]]): partial aggregation reduces each map
    * task to ≤ budget pairs per source, so the exchange carries
    * O(partitions × budget × sources) rows — never a per-source
    * sort of the corpus through one window partition. The heap k is
    * the full 200-doc budget (every per-source quota is ≤ the
    * budget by the integer-division construction), and the variable
    * quota is a post-filter on rank over heap-sized data. */
  private val mixTempBudget = 200

  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val mass = docs(s, d).groupBy(col("source"))
      .agg(sum(col("n_chars")).as("mass"))
      .withColumn("sq", expr("CAST(floor(sqrt(mass)) AS BIGINT)"))
    val tot = mass.agg(sum(col("sq")).as("tot"))
    val quotas = mass.crossJoin(broadcast(tot))
      .withColumn("quota",
        expr(s"CAST($mixTempBudget * sq div tot AS BIGINT)"))
      .select(col("source"), col("mass"), col("quota"))
    docs(s, d).select(col("doc_id"), col("source"))
      .withColumn("h",
        md5(concat(lit("mixt:"), col("doc_id").cast("string"))))
      .withColumn("wh", expr(hexHashExpr("instr")))
      .groupBy(col("source"))
      .agg(graft.functions.TopKByLong
        .topK(-col("wh"), col("doc_id"), mixTempBudget).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("p0", "x")))
      .select(col("source"), col("x.id").as("doc_id"),
        (col("p0") + 1).cast("bigint").as("rank"))
      .join(broadcast(quotas), Seq("source"))
      .filter(col("rank") <= col("quota"))
      .groupBy(col("source"))
      .agg(max(col("mass")).cast("bigint").as("mass"),
        max(col("quota")).as("quota"),
        count(lit(1)).as("n_picked"),
        sum(col("doc_id")).as("picked_sum"))
  }

  // ---------------------------------------------------------------
  // Passage-level dedup scan (CCNet/C4-style boilerplate detection
  // one level below whole-document dedup): docs split into
  // consecutive non-overlapping fixed-width token passages; a
  // passage is boilerplate when its hash occurs in >= 2 distinct
  // docs. Passage arrays are built MAP-SIDE from the token array
  // (no per-token explode); the only shuffles are the
  // passage-hash agg and the hash-partitioned join back — both
  // keyed on the 32-hex passage hash, never pairwise. The join
  // back reuses the agg side's hash partitioning at scale (no
  // broadcast needed: the shared-hash table is corpus-sized in
  // the worst case).
  // ---------------------------------------------------------------
  private val passageLen = 8

  /** One passage-splitting expression for every consumer
    * ([[passageDedup]], [[sourceOverlap]]) — a passage-width or
    * joining change must reach all of them at once. */
  private val passageExpr =
    s"""transform(
       |  sequence(0, CAST(ceil(size(w) / ${passageLen}.0) AS INT) - 1),
       |  i -> concat_ws(' ', slice(w, i * $passageLen + 1, $passageLen)))"""
      .stripMargin

  /** Per-doc passage counts + how many of the doc's passages also
    * occur in at least one OTHER doc (occurrences counted, so a doc
    * repeating a shared passage counts it each time). */
  def passageDedup(s: SparkSession, d: String): DataFrame = {
    val p = tokenized(s, d)
      .select(col("doc_id"), explode(expr(passageExpr)).as("pt"))
      .select(col("doc_id"), md5(col("pt")).as("ph"))
    // ">= 2 distinct docs" == min(doc_id) != max(doc_id): one
    // exchange instead of countDistinct's two (partial-distinct +
    // final), since min/max partial-aggregate map-side
    val shared = p.groupBy(col("ph"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("ph").as("sh"))
    p.join(shared, col("ph") === col("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("sh").isNotNull, 1L).otherwise(0L)).as("n_shared"))
  }

  // ---------------------------------------------------------------
  // Blocklist term filter (C4-style badword filtering): drop any
  // doc where blocklisted tokens reach or exceed 5% of all tokens
  // (n_blocked * 20 < n_tokens keeps strictly-under-5% docs). Pure
  // map-side predicate over the token array — zero shuffle, and
  // the integer cross-multiplication (n_blocked * 20 < n_tokens)
  // keeps the threshold exact in both engines.
  // ---------------------------------------------------------------
  private val blocklist = Seq("slow", "big")

  /** Kept docs with their token/blocked counts. */
  def termFilter(s: SparkSession, d: String): DataFrame =
    termFilterOf(docs(s, d))

  /** DataFrame-shaped core of [[termFilter]] — row-local and
    * stateless, so it runs unchanged on a streaming `documents`
    * source (see graft.streaming.DocsStream). */
  def termFilterOf(in: DataFrame): DataFrame = {
    val inList = blocklist.map("'" + _ + "'").mkString(", ")
    in.select(col("doc_id"), tokenExpr.as("w"))
      .select(col("doc_id"),
        expr("CAST(size(w) AS BIGINT)").as("n_tokens"),
        expr(s"CAST(size(filter(w, t -> t IN ($inList))) AS BIGINT)")
          .as("n_blocked"))
      .filter(col("n_blocked") * 20 < col("n_tokens"))
  }

  // ---------------------------------------------------------------
  // Distinctive terms per source (tf-idf flavored, but with an
  // EXACT integer lift instead of a float idf so both engines
  // agree bit-for-bit): lift_x1000 = floor(1000 * p(term|source)
  // / p(term|corpus)) computed by bigint cross-multiplication.
  // One (source, term) agg carries all the volume (map-side
  // combine collapses it to |sources| x |vocab| rows); every
  // later join is against tiny aggregate tables (broadcast).
  // ---------------------------------------------------------------

  /** Top 3 terms per source by integer lift (ties broken by term). */
  def distinctiveTerms(s: SparkSession, d: String): DataFrame = {
    // the (source, term) counts feed FOUR consumers (main branch,
    // term totals, source totals, corpus total); materialize the
    // |sources| x |vocab|-row aggregate once per snapshot so the
    // corpus-wide explode+agg doesn't replay per consumer
    val st = SnapshotMemo.getOrCompute(s, s"source-term-counts:$d") {
      Fixpoint.ser(docs(s, d)
        .select(col("source"), explode(tokenExpr).as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c_src")))
    }
    val tt = st.groupBy(col("term")).agg(sum(col("c_src")).as("c_all"))
    val stot = st.groupBy(col("source"))
      .agg(sum(col("c_src")).as("tot_src"))
    val tot = tt.agg(sum(col("c_all")).as("tot_all"))
    // widen to decimal(38)/HUGEINT before multiplying: at 100 TB the
    // cross-products (1000*c_src*tot_all, c_all*tot_src) blow past
    // Long.Max (~9.2e18) — bigint math would throw under ANSI or
    // silently wrap; both engines' 128-bit integer division truncates
    // positives identically, so the lift stays exact
    val lift = st.join(broadcast(tt), "term")
      .join(broadcast(stot), "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("term"),
        expr("""CAST((1000 * c_src * CAST(tot_all AS DECIMAL(38, 0)))
                |div (CAST(c_all AS DECIMAL(38, 0)) * tot_src)
                |AS BIGINT)""".stripMargin)
          .as("lift_x1000"))
    // bounded-heap top-3 instead of a row_number window: the window
    // form sorts each source's WHOLE vocabulary (~1e8 terms/source at
    // 100 TB) on one reducer, while the aggregate reduces every map
    // partition to <= 3 pairs per source so the exchange carries
    // O(partitions x 3) rows. Tie order (lift desc, term binary-asc)
    // is identical in both forms, so the oracle hash is unchanged —
    // a claim scoped to NON-NULL scores: the aggregate filters null
    // scores/ids in update(), while the window form ranks NULL lift
    // last and would emit such rows when a source has fewer than 3
    // non-null terms. lift_x1000 here is provably non-null (both
    // join inputs are counts), so the forms coincide.
    lift.groupBy(col("source"))
      .agg(graft.functions.TopKByLongStr.topKStr(
        col("lift_x1000"), col("term"), 3).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("p0", "t")))
      .select(col("source"), col("t.id").as("term"),
        col("t.score").as("lift_x1000"),
        (col("p0") + 1).cast("int").as("rank"))
  }

  // ---------------------------------------------------------------
  // BM25 ranked retrieval over an inverted index — the text-search
  // operator of a training-data pipeline (query-relevant corpus
  // slicing, retrieval-based decontamination, eval-set mining).
  // Robertson–Spärck Jones BM25 (k1 = 6/5, b = 3/4) with ONE
  // documented delta for the oracle-exactness rule: the idf LOG is
  // omitted — idf is the raw smoothed odds (2(N−df)+1)/(2df+1)
  // (Robertson & Zaragoza 2009 §3.3's RSJ weight without the log),
  // so every per-term score is an exact rational and the whole
  // pipeline stays integer:
  //
  //   term_x1e6 = floor(1e6 · (2(N−df)+1) · 44·S·tf
  //                / ((2df+1) · (20·S·tf + 6·S + 18·dl·N)))
  //
  // where N = corpus size, S = Σ dl (so avgdl = S/N; the tf-norm
  // denominator tf + k1(1−b+b·dl/avgdl) was multiplied through by
  // 20·S, and the numerator tf·(k1+1) = 11tf/5 by the same 20·S).
  // Doc score = Σ term_x1e6 (integer sum of floors — both engines
  // floor identically via 128-bit integer division). Widening to
  // DECIMAL(38,0)/HUGEINT before the cross-products: at 100 TB
  // (N≈1e9, S≈1e12, tf≈1e4) the numerator reaches ~1e33 — past
  // Long but comfortably inside 38 digits.
  //
  // Scale shape: the (doc_id, term, tf) inverted index is ONE
  // combine-collapsed aggregate, memoized per snapshot (shared with
  // any other consumer of postings); dl is a second, smaller agg
  // over it. The query table is literal and BROADCAST, so postings
  // are pruned to query terms BEFORE any join; df over the pruned
  // postings is a few-row broadcast. The only corpus-scale exchanges
  // are the two aggregates; the final top-k is the bounded-heap
  // aggregate (O(partitions·k) rows), never a window sort.
  // ---------------------------------------------------------------

  /** The fixed retrieval query set (id, terms) — literal in both
    * engines. Multi-term, mixed frequency, one term absent from the
    * synthetic vocabulary (exercises the no-posting path). */
  private val bm25QuerySet: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "agg", "spark"),
    3 -> Seq("slow", "scan", "filter"),
    4 -> Seq("customer", "order", "line"),
    5 -> Seq("vector", "stream", "zzzunseen"))

  /** The memoized inverted index: (doc_id, term, tf). */
  private def postings(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"doc-term-freq:$d") {
      Fixpoint.ser(postingsOf(docs(s, d)))
    }

  /** One corpus's (doc_id, term, tf) posting rows — a per-document
    * derivation, so postings from DISJOINT document sets merge by
    * plain union: the property the incremental path and the
    * streaming maintenance twin rest on. */
  private[graft] def postingsOf(in: DataFrame): DataFrame =
    in.select(col("doc_id"), explode(tokenExpr).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** INCREMENTAL BM25 (`llm_bm25_incremental`) — the retrieval
    * lane's rung on the incremental axis: the BASE corpus's postings
    * (doc_id % 2 = 0 — the prior snapshot) are a stored memoized
    * artifact; a DELTA batch's postings are built fresh and UNIONED
    * in (per-document rows from disjoint doc sets — no conflict
    * resolution, the merge is exact by construction). df/avgdl/N
    * re-derive from the merged index inside the same scoring plan,
    * so the incremental result is provably the full rebuild — which
    * is exactly what the oracle asserts: its SQL is the SAME
    * full-corpus replay as `llm_bm25_topk`'s. At 100 TB the stored
    * postings never re-tokenize; only the delta pays tokenization. */
  def bm25Incremental(s: SparkSession, d: String): DataFrame = {
    val base = SnapshotMemo.getOrCompute(s, s"postings-base:$d") {
      Fixpoint.ser(postingsOf(docs(s, d).filter(col("doc_id") % 2 === 0)))
    }
    val delta = postingsOf(docs(s, d).filter(col("doc_id") % 2 =!= 0))
    bm25TopKOf(s, base.union(delta), bm25QuerySet, 10)
  }

  /** Top-10 documents per query by integer-exact BM25
    * (`llm_bm25_topk`): (query_id, doc_id, rank, score_x1e6), ties
    * broken by doc_id ascending — the same total order as the
    * oracle's window replay. */
  def bm25TopK(s: SparkSession, d: String): DataFrame =
    bm25TopKOf(s, postings(s, d), bm25QuerySet, 10)

  /** [[bm25TopK]]'s core over an explicit (doc_id, term, tf)
    * posting table and query set (spec surface). */
  def bm25TopKOf(s: SparkSession, tf: DataFrame,
      querySet: Seq[(Int, Seq[String])], k: Int): DataFrame = {
    import s.implicits._
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("s_len"))
    val q = querySet
      .flatMap { case (id, ts) => ts.map(t => (id, t)) }
      .toDF("query_id", "term")
    val post = tf.join(broadcast(q), "term")
    // (doc_id, term) is unique in tf, so df per queried term is a
    // plain count over the pruned postings of ONE query's copy —
    // count distinct doc_id guards the shared-term-across-queries
    // double-count without a second pass
    val df_ = post.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val termScores = post
      .join(dl, "doc_id")
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        expr("""CAST((1000000 * (2 * (n_docs - df) + 1)
                |  * (44 * CAST(s_len AS DECIMAL(38, 0)) * tf))
                |div ((2 * df + 1)
                |  * (20 * CAST(s_len AS DECIMAL(38, 0)) * tf
                |     + 6 * s_len + 18 * dl * n_docs))
                |AS BIGINT)""".stripMargin).as("term_x1e6"))
    termScores
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_x1e6")).as("score_x1e6"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByLong.topK(
        col("score_x1e6"), col("doc_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("p0", "x")))
      .select(col("query_id").cast("int").as("query_id"),
        col("x.id").as("doc_id"),
        (col("p0") + 1).cast("int").as("rank"),
        col("x.score").as("score_x1e6"))
  }

  // ---------------------------------------------------------------
  // KMV (k-minimum-values) distinct-count sketch: the estimator
  // behind approx_count_distinct-style sketches, made
  // cross-engine-deterministic by building it from the md5 hash
  // order both engines share. Per source, keep the k = 64 smallest
  // DISTINCT shingle-hash values; the k-th smallest h_k estimates
  // the cardinality as (k-1) * HASH_SPACE / h_k (the k-th order
  // statistic of n uniform draws sits at ~k/n of the range).
  // Scale shape: one combinable (source, hash) agg collapses
  // duplicates map-side, then the bounded-heap top-k aggregate
  // reduces each source to 64 longs — the exchange carries
  // O(sources x k), never the corpus. n_exact rides along here to
  // show sketch accuracy; a pure sketch run would drop it.
  // ---------------------------------------------------------------
  private val kmvK = 64

  /** Per-source exact vs KMV-estimated distinct 3-token shingles.
    * `+ 1` in the divisor guards the measure-zero h_k = 0 draw
    * (both engines would otherwise divide by zero). */
  def kmvDistinct(s: SparkSession, d: String): DataFrame =
    kmvDistinctOf(docs(s, d))

  // ---------------------------------------------------------------
  // HyperLogLog distinct sketch — the OTHER canonical distinct
  // estimator (Flajolet, Fusy, Gandouet & Meunier 2007), placed next
  // to KMV deliberately: KMV keeps k order statistics, HLL keeps m
  // fixed registers; register-max is the merge operation, so HLL
  // artifacts merge across shards/snapshots with NO size growth (the
  // property behind approx_count_distinct everywhere). Made
  // cross-engine-deterministic the same way as KMV: built from the
  // shared md5-derived 32-bit hash, with two documented deltas from
  // the float formula so the estimate is EXACT integer arithmetic —
  // α_64 is the paper's rounded constant as the rational 709/1000,
  // and the small/large-range corrections are omitted (they need ln;
  // the fixture cardinalities sit in the raw-estimator regime, and
  // accuracy is MEASURED against n_exact in the same row). Register
  // geometry: b = 6 → m = 64 registers, j = top 6 hash bits,
  // ρ = leading-zero count of the remaining 26 bits + 1 (computed as
  // 27 − bitlength via `length(bin(w))` — identical in both
  // engines, no float log anywhere):
  //
  //   E = floor(709 · m² · 2^26 / (1000 · Σ_j 2^(26 − M_j)))
  //
  // (the harmonic mean put over the common denominator 2^26; absent
  // registers contribute M_j = 0 → 2^26.) Scale shape: ONE
  // combine-collapsed (source, register) max-agg — the exchange
  // carries ≤ sources × 64 rows — then a per-source fold; the
  // distinct-hash pass is shared with n_exact exactly as in KMV.
  // ---------------------------------------------------------------
  private val hllWBits = 26          // 32-bit hash minus b = 6
  private val hllW = 1L << hllWBits  // 2^26
  private val hllM = 64L

  def hllDistinct(s: SparkSession, d: String): DataFrame =
    hllDistinctOf(docs(s, d))

  /** (source, 32-bit shingle hash) rows — NOT deduplicated (the
    * register max absorbs duplicates; only n_exact needs distinct). */
  private def hllHashes(in: DataFrame): DataFrame =
    in.select(col("source"), tokenExpr.as("w"))
      .select(col("source"), explode(expr(shingle3Expr)).as("sg"))
      .withColumn("h", md5(col("sg")))
      .select(col("source"), expr(hexHashExpr("instr")).as("hv"))

  private def regsFromHv(hv: DataFrame): DataFrame =
    hv.withColumn("j", expr(s"CAST(hv div $hllW AS INT)"))
      .withColumn("wv", expr(s"hv % $hllW"))
      .withColumn("rho", expr(s"CASE WHEN wv = 0 THEN ${hllWBits + 1} " +
        s"ELSE ${hllWBits + 1} - length(bin(wv)) END"))
      .groupBy(col("source"), col("j"))
      .agg(max(col("rho")).as("mj"))

  /** The (source, register, max-rho) table of a document set — the
    * MERGEABLE sketch state: registers from different shards/batches
    * fold by `max(mj)` per (source, j), which is what the streaming
    * maintenance twin persists per micro-batch. */
  private[graft] def hllRegsOf(in: DataFrame): DataFrame =
    regsFromHv(hllHashes(in))

  /** The exact-integer raw estimate from a folded register table. */
  private[graft] def hllEstimateOf(regs: DataFrame): DataFrame =
    regs.groupBy(col("source"))
      .agg((sum(expr(s"CAST(1 AS BIGINT) << CAST($hllWBits - mj AS INT)"))
        + (lit(hllM) - count(lit(1))) * hllW).as("nsum"))
      .select(col("source"),
        // 709·m²·2^26 precomputed (a 32-bit literal product would
        // overflow under ANSI before widening)
        expr(s"${709L * hllM * hllM * hllW}L div (1000L * nsum)")
          .as("est_hll"))

  def hllDistinctOf(in: DataFrame): DataFrame = {
    // one shingle+hash pass feeds both the registers and n_exact
    val hv = hllHashes(in).distinct()
    val est = hllEstimateOf(regsFromHv(hv))
    val exact = hv.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    exact.join(broadcast(est), "source")
      .select(col("source"), col("n_exact"), col("est_hll"))
  }

  def kmvDistinctOf(in: DataFrame): DataFrame = {
    val shingled = in
      .select(col("source"), tokenExpr.as("w"))
      .select(col("source"), explode(expr(shingle3Expr)).as("sg"))
      .withColumn("h", md5(col("sg")))
      .select(col("source"), expr(hexHashExpr("instr")).as("hv"))
      .distinct()
    shingled
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_exact"),
        graft.functions.TopKByLong.topK(-col("hv"), col("hv"), kmvK)
          .as("tk"))
      .select(col("source"), col("n_exact"),
        expr(
          s"""CASE WHEN size(tk) < $kmvK THEN n_exact
             |  ELSE (${kmvK - 1}L * 4294967296L)
             |    div (element_at(tk, $kmvK).id + 1L) END"""
            .stripMargin).as("est_distinct"))
  }

  // ---------------------------------------------------------------
  // Incremental KMV: the cross-snapshot form of the sketch above.
  // A 100 TB pipeline never re-sketches the corpus — it keeps ONE
  // bottom-k artifact per ingest shard (per day / per batch) in the
  // metastore and answers "distinct across everything so far" by
  // MERGING the artifacts. Bottom-k is exactly mergeable: every
  // member of the global bottom-k is in some shard and is within
  // that shard's bottom-k there (fewer than k values are smaller
  // anywhere), so bottom-k(distinct-union of partials) = global
  // bottom-k — the merged estimate is IDENTICAL to the monolithic
  // one, not merely close. The |union| < k fallback is exact too:
  // it implies every shard sketch was complete, so the union IS the
  // global distinct set. Merge cost is O(shards × k) longs — the
  // corpus is never touched.
  // ---------------------------------------------------------------
  private val kmvShards = 4

  /** Per-shard KMV partials (shard = doc_id % 4, modeling per-batch
    * stored artifacts) merged into a corpus-wide estimate, with the
    * monolithic sketch re-run alongside as the yardstick (same
    * measure-don't-claim pattern as the ANN recall queries — a pure
    * production run would drop the yardstick branch). */
  def kmvIncremental(s: SparkSession, d: String): DataFrame =
    kmvIncrementalOf(docs(s, d))

  def kmvIncrementalOf(in: DataFrame): DataFrame = {
    val hv = in
      .select(col("source"), (col("doc_id") % kmvShards).as("shard"),
        tokenExpr.as("w"))
      .select(col("source"), col("shard"), explode(expr(shingle3Expr)).as("sg"))
      .withColumn("h", md5(col("sg")))
      .select(col("source"), col("shard"), expr(hexHashExpr("instr")).as("hv"))
      .distinct()
    // the stored artifacts: one bottom-k array per (source, shard)
    val partials = hv
      .groupBy(col("source"), col("shard"))
      .agg(graft.functions.TopKByLong.topK(-col("hv"), col("hv"), kmvK)
        .as("tk"))
    // the merge: explode O(shards × k) longs, distinct-union,
    // re-take bottom-k — estimate from sketch contents ONLY
    val merged = partials
      .select(col("source"), explode(col("tk")).as("t"))
      .select(col("source"), col("t.id").as("hv"))
      .distinct()
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_merged"),
        graft.functions.TopKByLong.topK(-col("hv"), col("hv"), kmvK)
          .as("tk"))
      .select(col("source"), col("n_merged"),
        expr(
          s"""CASE WHEN n_merged < $kmvK THEN n_merged
             |  ELSE (${kmvK - 1}L * 4294967296L)
             |    div (element_at(tk, $kmvK).id + 1L) END"""
            .stripMargin).as("est_merged"))
    merged.join(kmvDistinctOf(in), "source")
      .select(col("source"), col("n_merged"), col("est_merged"),
        col("est_distinct").as("est_full"), col("n_exact"))
  }

  /** KMV MULTISET-OPERATION estimation (`llm_kmv_intersect`) —
    * the reason a metastore keeps bottom-k sketches per source
    * rather than plain counts: Beyer et al. (SIGMOD 2007) show one
    * k-min sketch per set answers UNION and INTERSECTION
    * cardinalities for every pair without touching the data. For
    * sources A, B: merge the two sketches, keep the bottom k of the
    * distinct union (L, threshold τ = its k-th min) —
    * |A∪B| ≈ (k−1)·M/(τ+1), the same estimator as
    * [[kmvDistinctOf]]; ρ = |L ∩ K_A ∩ K_B| gives the Jaccard
    * numerator, so |A∩B| ≈ ρ·Û/k — all exact integer arithmetic
    * here (ρ·Û div k), so the oracle replays it bit-for-bit. When
    * the merged sketch holds fewer than k values both sketches are
    * COMPLETE and the answers are exact, not estimates (the same
    * fallback as the distinct sketch). Scale shape: the sketch
    * table is sources × k longs — the pair join is driver-trivial
    * and NEVER touches the corpus; the exact-intersection yardstick
    * column (measure-don't-claim, as in the ANN recall queries) is
    * the only corpus-scale pass. */
  def kmvIntersect(s: SparkSession, d: String): DataFrame =
    kmvIntersectOf(docs(s, d))

  def kmvIntersectOf(in: DataFrame): DataFrame = {
    val hv = in
      .select(col("source"), tokenExpr.as("w"))
      .select(col("source"), explode(expr(shingle3Expr)).as("sg"))
      .withColumn("h", md5(col("sg")))
      .select(col("source"), expr(hexHashExpr("instr")).as("hv"))
      .distinct()
    val sk = hv.groupBy(col("source"))
      .agg(graft.functions.TopKByLong.topK(-col("hv"), col("hv"), kmvK)
        .as("tk"))
      .select(col("source"), expr("transform(tk, x -> x.id)").as("sk"))
    val pairs = sk.as("a")
      .join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"),
        col("b.source").as("source_b"),
        col("a.sk").as("ska"), col("b.sk").as("skb"))
      .withColumn("merged", expr("array_sort(array_union(ska, skb))"))
      .withColumn("ell", expr(s"slice(merged, 1, $kmvK)"))
      .withColumn("est_union", expr(
        s"""CASE WHEN size(merged) < $kmvK
           |  THEN CAST(size(merged) AS BIGINT)
           |  ELSE (${kmvK - 1}L * 4294967296L)
           |    div (element_at(ell, $kmvK) + 1L) END""".stripMargin))
      .withColumn("rho", expr(
        "CAST(size(array_intersect(array_intersect(ell, ska), skb)) " +
          "AS BIGINT)"))
      .withColumn("est_inter", expr(
        s"""CASE WHEN size(merged) < $kmvK
           |  THEN CAST(size(array_intersect(ska, skb)) AS BIGINT)
           |  ELSE (rho * est_union) div $kmvK END""".stripMargin))
    val exact = hv.as("x")
      .join(hv.as("y"),
        col("x.hv") === col("y.hv") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"),
        col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_exact_inter"))
    pairs
      .select(col("source_a"), col("source_b"), col("est_union"),
        col("rho"), col("est_inter"))
      .join(exact, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_exact_inter"), lit(0L)).as("n_exact_inter"),
        col("est_union"), col("rho"), col("est_inter"))
  }

  /** Per-document novelty: the fraction of a document's distinct
    * 3-gram shingles that appear in NO other document — the
    * "how much of this doc is new text" signal a mixing/curation
    * pass reads next to the repetition and quality scores (low
    * novelty ≈ boilerplate or near-dup tail that slipped past
    * doc-level dedup). Docs with < 3 tokens have no shingles and no
    * row — in both engines. */
  def novelty(s: SparkSession, d: String): DataFrame =
    noveltyOf(tokenized(s, d))

  /** The novelty plan over any `(doc_id, w: array<string>)` frame —
    * SKEW-PROOF BY SHAPE. The doc frequency is NOT a window
    * partitioned by shingle hash (one dominant boilerplate shingle
    * would send its entire positional row set to a single reducer —
    * window state has no map-side combine); it's a two-phase HASH
    * AGGREGATE on the hash, whose partial step collapses the
    * dominant key to one row per map task before the exchange, so
    * per-reducer input is bounded by O(map tasks), not by the hot
    * key's row count. And because a df=1 shingle belongs to exactly
    * one document, the partial can carry `min(doc_id)` along and the
    * unique-per-doc rollup re-keys the df=1 rows by that owner — no
    * join back on the skewed hash at all. Exchanges: the (doc, hash)
    * distinct, the hash agg (same key, AQE-reusable), and two
    * doc-keyed rollups unioned into the final doc-keyed join —
    * every post-shingle key is either combine-collapsed or the
    * well-distributed doc_id. (Adversarial one-dominant-shingle
    * corpus: NoveltySkewSpec.) */
  private[llm] def noveltyOf(toks: DataFrame): DataFrame = {
    val dd = toks
      .select(col("doc_id"), explode(expr(shingle3Expr)).as("sg"))
      .withColumn("h", md5(col("sg")))
      .select(col("doc_id"), col("h")).distinct()
    // (h, df, owner-if-unique): partial count + partial min combine
    // map-side; rows are distinct per (doc, h) so min(doc_id) IS the
    // only holder whenever df = 1
    val uniqueOwned = dd.groupBy(col("h"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    dd.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
      .join(uniqueOwned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        floor(lit(1000.0) * coalesce(col("n_unique"), lit(0L)) /
          col("n_shingles")).as("novelty_x1000"))
  }

  /** Width (tokens) of the duplicated-substring detection gram —
    * the resolution floor: any duplicated run of ≥ this many tokens
    * is found exactly; shorter repeats are invisible (the standard
    * span-dedup trade; Lee et al. 2022 use 50 BPE tokens at corpus
    * scale, 8 keeps the fixture corpus interesting). */
  private val spanK = 8

  /** SPAN-LEVEL exact substring duplication (the coverage-mask op of
    * "Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022): for each document, the maximal token spans
    * whose every length-k window occurs more than once ANYWHERE in
    * the corpus (other docs or elsewhere in the same doc — the union
    * coverage-mask semantics). The suffix-array formulation is
    * single-node; the Spark-first shape is positional k-gram hash
    * chains: (1) map-side positional gram hashes, (2) corpus-wide
    * occurrence count — ONE shuffle on the 32-hex gram key with
    * map-side partial agg (the text itself never shuffles), (3)
    * semi-join positions back to duplicated grams (same key, same
    * partitioning — AQE reuses the exchange footprint), (4)
    * gaps-and-islands per document (shuffle on doc_id, window on
    * position: consecutive duplicated gram starts collapse to one
    * span, p − row_number as the island key), (5) per-doc rollup.
    * A duplicated run of m ≥ k tokens appears as m−k+1 consecutive
    * gram starts → exactly one island covering m tokens. Output is
    * per-doc (n_spans, dup_tokens, max_span) — the prune/keep signal
    * a span-dedup pass feeds on; docs with no duplicated window have
    * no row, in both engines. */
  def dupSpans(s: SparkSession, d: String): DataFrame =
    spanRollup(spanTable(s, d))

  /** The (doc_id, sp, ep) maximal-duplicated-span table both span
    * queries consume — see [[dupSpans]] for the chain's plan story.
    * MEMOIZED per corpus snapshot (serialized blocks — span rows are
    * bounded by duplicated tokens, corpus-order in the worst case):
    * the duplication mask is a stored artifact like the LSH pair
    * table — candidate discovery runs once, the mask query and the
    * span-removal rewrite both read it. */
  private def spanTable(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"span-table:$d")(
      Fixpoint.ser(computeSpanTable(s, d)))

  private def computeSpanTable(s: SparkSession, d: String): DataFrame = {
    val grams = posGramsOf(tokenized(s, d))
    val dup = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
    islandsToSpans(
      grams.join(dup.select("h"), Seq("h"), "left_semi")
        .select(col("doc_id"), col("p")))
  }

  /** Positional spanK-gram hashes of a `(doc_id, w)` tokenized frame
    * — `(doc_id, p, h)`, the unit every span operator keys on. */
  private def posGramsOf(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), posexplode(expr(
      s"CASE WHEN size(w) >= $spanK THEN " +
        s"transform(sequence(0, size(w) - $spanK), " +
        s"i -> md5(array_join(slice(w, i + 1, $spanK), ' '))) " +
        "ELSE array() END")).as(Seq("p", "h")))

  /** Gaps-and-islands: duplicated gram START positions →
    * `(doc_id, sp, ep)` maximal covered spans (consecutive starts
    * collapse via the p − row_number island key; a duplicated run of
    * m ≥ k tokens is m−k+1 consecutive starts → one island covering
    * m tokens). */
  private def islandsToSpans(dupPos: DataFrame): DataFrame =
    dupPos.withColumn("isl",
        col("p") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("p"))))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("p")).as("sp"),
        (max(col("p")) + lit(spanK - 1)).as("ep"))

  /** Per-doc rollup of a span table — the [[dupSpans]] output
    * schema, shared with the incremental and streaming forms. */
  private def spanRollup(spans: DataFrame): DataFrame =
    spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("ep") - col("sp") + 1).as("dup_tokens"),
        max(col("ep") - col("sp") + 1).cast("bigint").as("max_span"))

  /** The stored span-gram index for snapshot `d`: the DISTINCT
    * positional-gram hashes of the BASE corpus (everything except
    * the arriving shard), persisted once — the "seen grams" artifact
    * an incremental span-dedup pass maintains between ingests.
    * Hash-only (16 bytes per distinct gram): token-scale in row
    * count but never carries text; at 100 TB it's bucket-partitioned
    * by `h` so probes co-locate. READ BACK from parquet — probes
    * consume the artifact, not the lineage. */
  private[llm] def storedSpanGramsPath(s: SparkSession, d: String): String =
    SnapshotMemo.stored(s, d, "span-grams") { path =>
      posGramsOf(docs(s, d).filter(!expr(arrivingShardPred))
          .select(col("doc_id"), tokenExpr.as("w")))
        .select("h").distinct()
        .write.mode("overwrite").parquet(path)
    }

  /** Pure index-probe span stats for a `(doc_id, text, ...)` batch
    * against a stored gram set: positions whose gram EXISTS in the
    * index → islands → per-doc span rollup. The probe carries the
    * stored-index asymmetry ([[DedupIndex.probe]]): the arriving
    * batch's grams broadcast against the corpus-scale index SCAN
    * (map-side inner join — a semi-join would need the corpus side
    * broadcast instead), the matched position set is batch-sized,
    * and everything after is keyed by doc_id. Shared by the batch
    * incremental query and the streaming twin
    * ([[graft.streaming.DocsStream.startSpanProbe]]). */
  def spanProbe(docsDf: DataFrame, gramIndex: DataFrame): DataFrame =
    spanRollup(islandsToSpans(
      gramIndex.join(
          broadcast(posGramsOf(
            docsDf.select(col("doc_id"), tokenExpr.as("w")))),
          Seq("h"))
        .select(col("doc_id"), col("p"))))

  /** INCREMENTAL span-level dedup — the cross-snapshot form of
    * [[dupSpans]]: the arriving shard's positions are duplicated iff
    * their gram exists in the STORED base-corpus gram index
    * ([[storedSpanGramsPath]]) OR occurs twice within the shard
    * itself — which is exactly "occurs ≥ 2 times in the full
    * corpus" restricted to arriving positions, so the oracle is the
    * from-scratch full-corpus span chain filtered to the shard and
    * the hash match proves incremental == full. Work is
    * O(shard grams) + one map-side scan of the index; the corpus
    * text is never re-read. */
  def spanIncremental(s: SparkSession, d: String): DataFrame = {
    val idx = s.read.parquet(storedSpanGramsPath(s, d))
    val g = posGramsOf(
      docs(s, d).filter(expr(arrivingShardPred))
        .select(col("doc_id"), tokenExpr.as("w")))
    val localDup = g.groupBy(col("h"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).select("h")
    val dupPos = idx.join(broadcast(g), Seq("h"))
      .select(col("doc_id"), col("p"))
      .union(g.join(localDup, Seq("h"), "left_semi")
        .select(col("doc_id"), col("p")))
      .distinct()
    spanRollup(islandsToSpans(dupPos))
  }

  /** The span-REMOVAL transform over the [[dupSpans]] mask — what a
    * span-dedup pass actually does to the corpus (Lee et al. drop
    * one-of-each duplicated span; the mask form here drops EVERY
    * masked token, the conservative variant that needs no global
    * occurrence ordering and therefore no extra corpus-wide
    * shuffle). Affected docs only (the untouched corpus passes
    * through unchanged — emitting it would just re-ship the input):
    * covered positions explode from the span table (bounded by
    * dup_tokens, not corpus tokens), anti-join the positional token
    * table on (doc_id, pos), and the survivors reassemble
    * order-preserved (sort_array over (pos, word) structs). Cost
    * accounting at 100 TB: TWO token-scale exchanges — the
    * (doc_id, pos) anti-join and the doc_id reassembly (keyed
    * differently, so the exchange is not reused) — which is
    * inherent to a corpus-REWRITING op (the output is the text;
    * contrast [[dupSpans]], whose mask ships only hashes). Output
    * (doc_id, n_kept, clean_text) hash-checks the
    * reassembled strings against the oracle's ordered string_agg; a
    * FULLY-masked doc keeps zero tokens and has no row — it is
    * dropped outright, in both engines. */
  def spanDedupKeep(s: SparkSession, d: String): DataFrame = {
    val covered = spanTable(s, d)
      .select(col("doc_id"),
        explode(expr("sequence(sp, ep)")).as("p"))
    val toks = tokenized(s, d)
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p", "word")))
    // merge hints: both right sides are DATA-DEPENDENT (span-
    // coverage-sized — corpus-token-scale on a dup-heavy corpus like
    // the 50%-duplicate sf1 rehearsal replica set, where an
    // estimate-triggered broadcast OOM'd the capped heap; the
    // SuffixArray join discipline)
    toks.join(covered.hint("merge"), Seq("doc_id", "p"), "left_anti")
      .join(covered.select("doc_id").distinct().hint("merge"),
        Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(sort_array(collect_list(" +
          "struct(p, word))), x -> x.word)"), " ").as("clean_text"))
  }

  /** One batch's KMV partial as ROWS — `(source, hv)`, at most k rows
    * per source: the artifact the streaming maintenance loop persists
    * (row form rather than array form so merge is a plain
    * distinct-union + re-top-k over O(sources × k) rows). */
  def kmvPartialOf(in: DataFrame): DataFrame =
    rowsOfSketch(in
      .select(col("source"), tokenExpr.as("w"))
      .select(col("source"), explode(expr(shingle3Expr)).as("sg"))
      .withColumn("h", md5(col("sg")))
      .select(col("source"), expr(hexHashExpr("instr")).as("hv"))
      .distinct())

  /** Merge two row-form sketches: distinct union, re-take bottom-k
    * per source. Exact (see the mergeability argument above),
    * idempotent (set semantics — re-merging the same partial is a
    * no-op, which is what makes at-least-once streaming retries
    * safe), commutative and associative: arrival order and shard
    * boundaries cannot change the merged sketch. */
  def kmvMergeRows(a: DataFrame, b: DataFrame): DataFrame =
    rowsOfSketch(a.unionByName(b).distinct())

  private def rowsOfSketch(rows: DataFrame): DataFrame =
    rows.groupBy(col("source"))
      .agg(graft.functions.TopKByLong.topK(-col("hv"), col("hv"), kmvK)
        .as("tk"))
      .select(col("source"), explode(col("tk")).as("t"))
      .select(col("source"), col("t.id").as("hv"))

  /** Distinct-count estimate from a row-form sketch ALONE (no corpus
    * access): a sketch of fewer than k rows is the complete distinct
    * set; at k rows the largest member is the k-th order statistic. */
  def kmvEstimateOf(sketch: DataFrame): DataFrame =
    sketch.groupBy(col("source"))
      .agg(count(lit(1)).as("n_sketch"), max(col("hv")).as("hk"))
      .select(col("source"),
        expr(
          s"""CASE WHEN n_sketch < $kmvK THEN n_sketch
             |  ELSE (${kmvK - 1}L * 4294967296L) div (hk + 1L) END"""
            .stripMargin).as("est_distinct"))

  // ---------------------------------------------------------------
  // Winnowing fingerprints (the MOSS algorithm): slide a window of
  // width 4 over the 3-gram shingle-hash sequence, keep each
  // window's minimum, dedup — guarantees any shared run of >= 6
  // tokens between two docs produces at least one shared
  // fingerprint, at ~1/4 the fingerprint density of full shingling.
  // One shuffle on doc_id (the ordered window + the per-doc count
  // share the partitioning), then a match-scale distinct.
  // Degenerate docs (fewer shingles than the window) keep exactly
  // one fingerprint (the global min); docs under 3 tokens have no
  // shingles and no fingerprints — in both engines.
  // ---------------------------------------------------------------
  private val winnowW = 4

  /** Per-doc winnowing fingerprint summary (count / min / sum of the
    * distinct window minima — scalar so the oracle hash is exact). */
  def winnow(s: SparkSession, d: String): DataFrame = {
    val rows = tokenized(s, d)
      .select(col("doc_id"),
        posexplode(expr(shingle3Expr)).as(Seq("p0", "sg")))
      .withColumn("h", md5(col("sg")))
      .select(col("doc_id"), (col("p0") + 1).as("i"),
        expr(hexHashExpr("instr")).as("hv"))
    val wspec = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, winnowW - 1)
    val perDoc = Window.partitionBy(col("doc_id"))
    rows
      .withColumn("wmin", min(col("hv")).over(wspec))
      .withColumn("m", count(lit(1)).over(perDoc))
      .filter(col("i") <= greatest(col("m") - (winnowW - 1), lit(1L)))
      .select(col("doc_id"), col("wmin")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"), min(col("wmin")).as("fp_min"),
        sum(col("wmin")).as("fp_sum"))
  }

  // ---------------------------------------------------------------
  // Split assignment, length buckets, cross-source overlap — the
  // remaining bookkeeping steps of a corpus build. All map-side +
  // tiny aggregations except the overlap matrix, whose pair
  // generation is strictly within passage-hash groups (bounded by
  // |sources| per hash, never corpus-quadratic).
  // ---------------------------------------------------------------

  /** Deterministic hash-based train/val/test assignment (90/5/5):
    * the doc_id hash decides the split, so membership is stable
    * across runs, engines, and partitionings — rand() splits are
    * not reproducible and leak across re-runs. Output is the
    * per-split rollup; the assignment expression itself is the
    * per-doc artifact. */
  def splitAssign(s: SparkSession, d: String): DataFrame =
    splitOf(s, d)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /** Per-document split assignment — the deterministic hash rule of
    * [[splitAssign]], kept as a frame so the leakage audit can join
    * it against the near-dup pair table. */
  private def splitOf(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("n_chars"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("wh", expr(hexHashExpr("instr")))
      .select(col("doc_id"), col("n_chars"),
        when(col("wh") % 100 < 90, "train")
          .when(col("wh") % 100 < 95, "val")
          .otherwise("test").as("split"))

  /** Train/eval near-dup LEAKAGE audit (`llm_split_leakage`) — the
    * eval-hygiene pass every benchmark-honest pipeline runs AFTER
    * splitting: a near-duplicate pair straddling two splits means
    * the held-out member is effectively in training (Lee et al.
    * 2022's deduplicate-before-you-split argument, run as an audit).
    * Composes two existing artifacts — the memoized MinHash-LSH
    * pair table and the deterministic hash split — with two
    * doc-keyed joins; output is every cross-split pair with both
    * assignments. At 100 TB: the pair table is the already-paid
    * dedup artifact and the split table is a hash rule evaluated
    * map-side, so the audit costs two equi-joins on the
    * candidate-pair cardinality, never a new all-pairs pass. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val sp = splitOf(s, d).select(col("doc_id"), col("split"))
    dedupMinhash(s, d)
      .join(sp.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"),
        col("split_a"), col("split_b"))
  }

  /** Token-length histogram (8-token buckets, capped at 12) — the
    * length distribution that drives packing efficiency and
    * truncation-rate estimates. Integer bucketing so both engines
    * agree exactly. */
  def lengthBuckets(s: SparkSession, d: String): DataFrame =
    tokenized(s, d)
      .select(expr("least(CAST(size(w) AS BIGINT) div 8, 12)")
        .as("bucket"), expr("CAST(size(w) AS BIGINT)").as("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"))

  /** Cross-source duplication matrix: for each source pair, how many
    * distinct passages occur in BOTH — the diagnosis table that
    * tells a dataset builder which sources overlap before mixing.
    * Pairs are generated within passage-hash groups (each hash holds
    * ≤ |sources| entries after the distinct), so the quadratic term
    * is bounded by the source count, never the corpus. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val p = docs(s, d)
      .select(col("source"), tokenExpr.as("w"))
      .select(col("source"), explode(expr(passageExpr)).as("pt"))
      .select(md5(col("pt")).as("ph"), col("source")).distinct()
    p.groupBy(col("ph"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)),
          |    b -> struct(a AS src_a, b AS src_b))))""".stripMargin))
        .as("pr"))
      .groupBy(col("pr.src_a").as("src_a"), col("pr.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared_passages"))
  }

  // ---------------------------------------------------------------
  // Text analysis: token counts, punctuation, stopword ratio,
  // quality score — single map-side pass, integer outputs.
  // ---------------------------------------------------------------
  private val stopwords = Seq("the", "a", "of", "and", "in", "to", "is")

  def textStats(s: SparkSession, d: String): DataFrame = {
    val sw = stopwords.map(x => s"'$x'").mkString(", ")
    docs(s, d).select(col("doc_id"), tokenExpr.as("w"), col("text"))
      .select(
        col("doc_id"),
        expr("CAST(size(w) AS BIGINT)").as("n_tokens"),
        expr("CAST(length(text) AS BIGINT)").as("n_chars_calc"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,;:!?]", "")))
          .cast("bigint").as("n_punct"),
        expr(s"CAST(size(filter(w, x -> x IN ($sw))) AS BIGINT)")
          .as("n_stop"),
        // BPE-ish pre-tokenization: letter runs, digit runs, single
        // punctuation — the shape (not the vocab) of a subword
        // tokenizer's first pass; counts bound model token budgets
        size(regexp_extract_all(lower(col("text")), lit(bpeish), lit(0)))
          .cast("bigint").as("n_subtokens"))
      .withColumn("stop_x1000",
        floor(lit(1000.0) * col("n_stop") / col("n_tokens")))
  }

  /** BPE-ish pre-tokenizer regex; plain Java/RE2-compatible syntax
    * (same semantics in Spark's codegen'd regexp and DuckDB's RE2). */
  private val bpeish = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Quality *filter* — the Gopher-rules shape (C4/Gopher-style
    * heuristics: token-count bounds, mean word length bounds, symbol
    * ratio cap) applied as a pure map-side predicate: at 100 TB this
    * is the first pass that discards most of a crawl, so it must be
    * scan-pushable and shuffle-free, which a filter on derived scalar
    * columns is. Thresholds are integers on ×100-scaled metrics. */
  def qualityFilter(s: SparkSession, d: String): DataFrame =
    qualityFilterOf(docs(s, d))

  /** The LEARNED quality scorer's weight vector — the CCNet/fastText
    * slot: in production these come out of a training job; here a
    * fixed "trained" vector stored as a table artifact so the
    * handoff seam (stored weights → broadcast → map-side inference)
    * is the real one. Integer weights over ×1000/×100-scaled
    * integer features keep inference EXACT. */
  private[llm] val qualityWeights: Seq[(String, Long)] = Seq(
    ("bias", -96000L),
    ("stop_x1000", 400L),
    ("mean_wordlen_x100", 150L),
    ("punct_x1000", -700L),
    ("n_tokens", 50L))

  /** The stored weight-table artifact (the trained-model handoff
    * seam, like the WordPiece vocab): written once per snapshot,
    * read + broadcast by the scorer. */
  private[graft] def qualityWeightsPath(s: SparkSession, d: String): String =
    SnapshotMemo.stored(s, d, "quality-weights") { path =>
      val spark = s
      import spark.implicits._
      qualityWeights.toDF("feature", "w")
        .write.mode("overwrite").parquet(path)
    }

  /** LEARNED quality scoring (`llm_quality_score`) — the curation
    * operator real pipelines run most (CCNet's fastText filter,
    * quality classifiers over Gopher features): a linear model
    * scored in EXACT integer arithmetic over the engine's existing
    * text-stat features (stopword density, mean word length,
    * punctuation density, token count — all ×1000/×100-scaled
    * integers, the [[textStats]]/[[qualityFilterOf]] formulas) with
    * weights from a STORED broadcast artifact
    * ([[qualityWeightsPath]]). Verdict = score ≥ 0.
    *
    * Scale shape: features are one map-side pass; the long-form
    * feature frame joins the vocabulary-sized weight table
    * BROADCAST; the per-doc dot product is one doc-keyed partial
    * aggregate. Swapping in newly trained weights touches only the
    * artifact — the plan is weight-agnostic. */
  def qualityScore(s: SparkSession, d: String): DataFrame =
    qualityScoreOf(docs(s, d),
      s.read.parquet(qualityWeightsPath(s, d)))

  /** [[qualityScore]]'s core over explicit docs + weights frames
    * (spec surface: seeded weight flips must flip verdicts). */
  private[graft] def qualityScoreOf(in: DataFrame,
      weights: DataFrame): DataFrame = {
    val sw = stopwords.map(x => s"'$x'").mkString(", ")
    val feats = in.select(col("doc_id"), tokenExpr.as("w"), col("text"))
      .select(col("doc_id"),
        expr("CAST(size(w) AS BIGINT)").as("n_tokens"),
        expr("""CAST(length(regexp_replace(trim(text), '\\s+', ''))
                AS BIGINT)""").as("n_nonspace"),
        expr("CAST(length(text) AS BIGINT)").as("n_chars_calc"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,;:!?]", "")))
          .cast("bigint").as("n_punct"),
        expr(s"CAST(size(filter(w, x -> x IN ($sw))) AS BIGINT)")
          .as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        floor(lit(1000.0) * col("n_stop") / col("n_tokens"))
          .as("stop_x1000"),
        floor(lit(100.0) * col("n_nonspace") / col("n_tokens"))
          .as("mean_wordlen_x100"),
        floor(lit(1000.0) * col("n_punct") / col("n_chars_calc"))
          .as("punct_x1000"))
    feats
      .select(col("doc_id"), explode(expr(
        "array(named_struct('feature', 'bias', 'x', CAST(1 AS BIGINT)), " +
          "named_struct('feature', 'n_tokens', 'x', n_tokens), " +
          "named_struct('feature', 'stop_x1000', 'x', stop_x1000), " +
          "named_struct('feature', 'mean_wordlen_x100', 'x', " +
          "mean_wordlen_x100), " +
          "named_struct('feature', 'punct_x1000', 'x', punct_x1000))"))
        .as("fx"))
      .select(col("doc_id"), col("fx.feature").as("feature"),
        col("fx.x").as("x"))
      .join(broadcast(weights), Seq("feature"))
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * col("w")).as("score"))
      .withColumn("kept",
        when(col("score") >= 0L, 1L).otherwise(0L))
  }

  /** DataFrame-shaped core of [[qualityFilter]] — row-local and
    * stateless, so it runs unchanged on a streaming `documents`
    * source (see graft.streaming.DocsStream). */
  def qualityFilterOf(in: DataFrame): DataFrame =
    in.select(col("doc_id"), tokenExpr.as("w"), col("text"))
      .select(col("doc_id"),
        expr("CAST(size(w) AS BIGINT)").as("n_tokens"),
        expr("""CAST(length(regexp_replace(trim(text), '\\s+', ''))
                AS BIGINT)""").as("n_nonspace"))
      .withColumn("mean_wordlen_x100",
        floor(lit(100.0) * col("n_nonspace") / col("n_tokens")))
      .filter(col("n_tokens") >= 25 && col("n_tokens") <= 100000 &&
        col("mean_wordlen_x100") >= 400 && col("mean_wordlen_x100") <= 520)
      .select(col("doc_id"), col("n_tokens"), col("mean_wordlen_x100"))

  /** Per-language corpus rollup (how a real pipeline shards training
    * data by language). */
  def langStats(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"),
      floor(lit(100.0) * sum(col("n_chars")) / count(lit(1)))
        .as("avg_chars_x100"))

  // ---------------------------------------------------------------
  // Document fingerprint: position-weighted 32-bit word hashes
  // (md5-hex → int via explicit hex-digit polynomial — identical
  // arithmetic in both engines), summed mod 2^31-1 per position.
  // ---------------------------------------------------------------
  /** 32-bit integer from the first 8 hex digits of md5, as a SQL
    * expression over string column `h`; `pos` is the 1-based position
    * function name ("instr" for Spark, "strpos" for DuckDB). */
  private def hexHashExpr(posFn: String): String =
    (1 to 8).map { j =>
      val p = math.pow(16, 8 - j).toLong
      s"CAST($posFn('0123456789abcdef', substring(h, $j, 1)) - 1 AS BIGINT) * $p"
    }.mkString(" + ")

  def fingerprint(s: SparkSession, d: String): DataFrame =
    tokenized(s, d)
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "word")))
      .withColumn("h", md5(col("word")))
      .withColumn("wh", expr(hexHashExpr("instr")))
      .groupBy(col("doc_id"))
      .agg(sum((col("wh") * (col("p0") + 1)) % 2147483647L).as("fp"))

  // ---------------------------------------------------------------
  // Benchmark decontamination — the step every training pipeline runs
  // before shipping: drop/flag training documents that share n-grams
  // with a heldout evaluation set. Heldout here is a deterministic
  // slice (doc_id % 97 == 0), standing in for the external benchmark
  // corpus. Scale shape: the heldout n-gram set is eval-corpus-sized
  // (tiny vs 100 TB of training data) → broadcast hash join, training
  // side streams map-side — the same asymmetry a Bloom-filter
  // decontaminator exploits, with exact results.
  // ---------------------------------------------------------------
  /** 5-gram array over token column `w` — shared by the exploded
    * batch form and the row-local streaming bloom gate. Same codegen
    * kernel as [[shingle3Expr]]; HOF reference spelling below. */
  private val fivegramArrSql = "word_ngrams(w, 5)"

  /** The pre-kernel HOF spelling — the independent reference
    * implementation for the 5-gram path (WordNgramsSpec). */
  private[llm] val fivegramHofSql =
    """CASE WHEN size(w) >= 5
      |  THEN transform(sequence(1, size(w) - 4),
      |    i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
      |      element_at(w, i + 2), element_at(w, i + 3),
      |      element_at(w, i + 4)))
      |  ELSE array() END""".stripMargin

  private[llm] def fivegrams(s: SparkSession, d: String): DataFrame =
    tokenized(s, d).select(col("doc_id"),
      explode(expr(fivegramArrSql)).as("g"))

  /** Session flag selecting the heldout-join strategy; `true`
    * (default) = broadcast. Flip to `false` when the heldout side is
    * too big to broadcast — e.g. decontaminating one full corpus
    * against another — and the join becomes a hash-partitioned
    * SHUFFLE_HASH join on the gram key: both sides exchange once,
    * nothing is collected to the driver, identical exact answer
    * (plan-audited in DecontamPathSpec). A Bloom prefilter is the
    * further inexact-prune refinement; the shuffle path keeps the
    * gate's exactness. */
  private[llm] val decontamBroadcastFlag =
    "spark.graft.decontam.broadcastHeldout"

  private def decontamBroadcast(s: SparkSession): Boolean =
    s.conf.get(decontamBroadcastFlag, "true").toBoolean

  /** The flagged-doc table is match-sized (docs sharing ≥1 heldout
    * 5-gram) — materialized once per corpus snapshot AND join
    * strategy (the flag is part of the memo key, so toggling it
    * recomputes instead of replaying the other path's artifact). */
  def decontaminate(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s,
      s"decontam-flags:$d:broadcast=${decontamBroadcast(s)}")(
      Fixpoint.ser(computeDecontaminate(s, d)))

  private[llm] def computeDecontaminate(
      s: SparkSession, d: String): DataFrame = {
    val g = fivegrams(s, d)
    // the doc_id filter pushes below the explode to the scan: the
    // heldout branch reads only heldout docs
    val heldout = g.filter(col("doc_id") % 97 === 0)
      .select(col("g").as("hg")).distinct()
    // dedup AFTER the join: only grams that actually hit the heldout
    // set reach the post-join shuffle (match-sized), instead of a
    // corpus-wide distinct of every training 5-gram before joining
    val train = g.filter(col("doc_id") % 97 =!= 0)
    val joined =
      if (decontamBroadcast(s))
        train.join(broadcast(heldout), col("g") === col("hg"))
      else
        train.join(heldout.hint("shuffle_hash"), col("g") === col("hg"))
    joined.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_5grams"))
  }

  /** The decontaminated training corpus — decontamination's OUTPUT
    * table (flag → drop), the artifact that actually ships: training
    * docs minus everything sharing a 5-gram with the heldout set.
    * Flagged ids are match-scale → broadcast anti-join, the corpus
    * streams. */
  def decontamKeep(s: SparkSession, d: String): DataFrame = {
    val flagged = decontaminate(s, d).select(col("doc_id").as("bad_id"))
    docs(s, d).filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(flagged), col("doc_id") === col("bad_id"),
        "left_anti")
  }

  // ---------------------------------------------------------------
  // Bloom-filter decontamination prefilter — the inexact-prune
  // refinement the exact paths point at. When the heldout side is
  // too big even for the shuffle-hash join to be cheap, a training
  // pipeline broadcasts a COMPACT summary of the heldout n-gram set
  // and prunes map-side, then (optionally) verifies survivors
  // exactly. The filter here is a deterministic Bloom bitset built
  // from the md5 hash order both engines share — no JVM hashing, no
  // run-dependence — so DuckDB replays the identical construction
  // and the gate hash-checks bit-for-bit.
  //
  // Representation: `bloomWords` BIGINT words of 62 usable bits each
  // (62, not 64: both engines check overflow on 1L << 63, and bit 62
  // keeps every word positive so shift semantics can't differ).
  // Positions come from Kirsch–Mitzenmacher double hashing over ONE
  // md5 per gram (see [[bloomABSql]]). Scale shape: the bitset is
  // built with one tiny shuffle (O(bloomWords) rows), densified to a
  // single array<bigint> row and BROADCAST back (~1 KiB here; sized
  // to the heldout cardinality in deployment — a knob, like
  // packSequencesSharded's shard count); the corpus probes it
  // entirely map-side through one cross-join against that row, and
  // only bloom-positive rows ever shuffle. No false negatives by
  // construction (asserted in spec); the false-positive cost is
  // MEASURED by [[bloomSummary]], not claimed.
  // ---------------------------------------------------------------
  private val bloomWordBits = 62

  /** Bloom geometry: `words` 62-bit words, `k` probes per gram. */
  final case class BloomParams(words: Int, k: Int) {
    require(words >= 1 && k >= 1)
    val bits: Long = words.toLong * bloomWordBits
  }

  /** Standard Bloom sizing from data: for `nGrams` distinct heldout
    * grams and a 1-in-`fpOneInN` target false-positive rate,
    * m = ceil(n·ln(1/p)/ln²2) bits and k = round(ln2·m/n) probes
    * (clamped to [1, 8] — beyond 8 the per-row probe cost outweighs
    * marginal FP gains at any practical geometry). The heldout
    * cardinality is index-build METADATA (a count of the tiny side,
    * never the corpus), so computing it driver-side is the same
    * shape as the k-means convergence check: a scalar decision input,
    * not data movement. */
  def deriveBloomParams(nGrams: Long, fpOneInN: Int): BloomParams = {
    require(nGrams > 0 && fpOneInN > 1)
    val ln2 = math.log(2)
    val bits = math.ceil(nGrams * math.log(fpOneInN.toDouble) / (ln2 * ln2))
      .toLong
    val words = math.max(1L, (bits + bloomWordBits - 1) / bloomWordBits)
    BloomParams(math.toIntExact(words),
      math.max(1L, math.min(8L, math.round(ln2 * bits / nGrams))).toInt)
  }

  /** Sizing for a gram-set DataFrame: count (tiny, heldout-scale) +
    * derive. */
  def deriveBloomParams(grams: DataFrame, fpOneInN: Int): BloomParams =
    deriveBloomParams(grams.count(), fpOneInN)

  /** The SHIPPED geometry for the oracle-checked decontamination
    * queries: pinned so the oracle CTE (static SQL) mirrors it
    * exactly. Deployments size from data via [[deriveBloomParams]] —
    * every build/probe entry point below takes the geometry as a
    * parameter and defaults to this. */
  private[llm] val defaultBloom = BloomParams(132, 3)
  private[llm] def bloomWords = defaultBloom.words
  private[llm] def bloomBits: Long = defaultBloom.bits
  private def bloomK = defaultBloom.k

  /** One bloom bit test against the dense bitset column `barr`:
    * true iff bit (`p` % wordBits) of word (`p` div wordBits) is
    * set. THE single spelling shared by the exploded batch probe and
    * the row-local streaming gate — the two forms must agree
    * doc-for-doc (DecontamPathSpec), so they are built from one
    * fragment by construction. */
  private def bloomBitTestSql(p: String): String =
    s"(shiftright(element_at(barr, CAST(($p) div $bloomWordBits AS INT) " +
      s"+ 1), CAST(($p) % $bloomWordBits AS INT)) & 1) = 1"

  /** Kirsch–Mitzenmacher double hashing: position j of gram g is
    * (a + j·b') % m with a = digits 1–8 and b = digits 9–16 of ONE
    * md5(g), b' = 2b+1 (odd, so b' = 0 can't collapse the probes).
    * One hash + 16 digit reads per row instead of k md5s — the probe
    * runs over every gram occurrence in the corpus, so per-row hash
    * cost is the whole game. a + k·b' < 2^32 + 3·2^33: BIGINT-safe
    * in both engines. */
  private def bloomABSql(posFn: String): (String, String) =
    (s"(${graft.functions.QuantileSketch.hexRankSql(posFn, "h", 1, 8)})",
      s"2 * (${graft.functions.QuantileSketch
        .hexRankSql(posFn, "h", 9, 8)}) + 1")

  /** Per-doc bloom-flagged table, memoized per snapshot (shared by
    * [[decontamBloom]] and [[bloomSummary]]). */
  private def bloomFlagged(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"decontam-bloom:$d")(
      Fixpoint.ser(computeBloomFlagged(s, d)))

  /** Bloom bitset over a one-column (`g`) gram set: k K-M positions
    * per gram → OR the bits per word → densify to ONE
    * array<bigint> row (`barr`) so probes are a single tiny
    * cross-join instead of k joins (k joins would also re-evaluate
    * this build subtree k times). */
  def bloomBitsetOf(grams: DataFrame,
      p: BloomParams = defaultBloom): DataFrame =
    bloomWordTableOf(grams, p)
      .agg(map_from_entries(collect_list(struct(col("word"), col("bits"))))
        .as("wb"))
      .select(expr(
        s"""transform(sequence(CAST(0 AS BIGINT), CAST(${p.words - 1}
           |AS BIGINT)), w -> coalesce(element_at(wb, w),
           |CAST(0 AS BIGINT)))""".stripMargin).as("barr"),
        // the geometry travels WITH the artifact (k in a column, m
        // recoverable as 62*size(barr)) so a probe can never run at
        // a different geometry than the build — see bloomCleanOf
        lit(p.k).as("bloom_k"))

  /** OR-merge two bitsets of the SAME geometry. Bit positions are a
    * deterministic function of the gram, so the merge is EXACTLY the
    * bitset of the union of the two gram sets (spec-pinned) — a new
    * heldout benchmark extends a deployed decontamination gate as a
    * 1-row OR, no rebuild, no access to the original grams. Cross-
    * snapshot incremental decontamination in one operator. A
    * geometry mismatch (different k or width) raises at execution
    * rather than probing garbage. */
  def bloomMergeOf(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("barr").as("ba"), col("bloom_k").as("ka"))
      .crossJoin(b.select(col("barr").as("bb"), col("bloom_k").as("kb")))
      .select(
        expr("""CASE WHEN ka = kb AND size(ba) = size(bb)
               |THEN zip_with(ba, bb, (x, y) -> x | y)
               |ELSE raise_error(concat('bloom geometry mismatch: k=',
               |  ka, '/', kb, ', words=', size(ba), '/', size(bb)))
               |END""".stripMargin).as("barr"),
        col("ka").as("bloom_k"))

  /** The SPARSE form of the bitset — `(word, bits)` rows, one per
    * word with any bit set. This is the representation that stays
    * joinable when the derived geometry outgrows broadcast: the
    * dense single-row array is just this table densified. */
  def bloomWordTableOf(grams: DataFrame,
      p: BloomParams = defaultBloom): DataFrame = {
    val (haSql, hbSql) = bloomABSql("instr")
    grams
      .withColumn("h", md5(col("g")))
      .withColumn("ha", expr(haSql))
      .withColumn("hb", expr(hbSql))
      .select(explode(array((1 to p.k).map(j =>
        expr(s"(ha + $j * hb) % ${p.bits}")): _*)).as("p"))
      .select(expr(s"p div $bloomWordBits").as("word"),
        expr(s"CAST(p % $bloomWordBits AS INT)").as("bit"))
      .groupBy(col("word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bits"))
  }

  /** The heldout-set bitset for snapshot `d`, memoized (shared by
    * the batch prefilter and the streaming gate's setup). */
  def bloomBitset(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"decontam-bloom-bits:$d")(
      bloomBitsetOf(fivegrams(s, d).filter(col("doc_id") % 97 === 0)
        .select(col("g")).distinct()).localCheckpoint())

  /** Row-local bloom membership: does ANY 5-gram of token array `w`
    * hit all k bits? Two-level lambda (grams → md5 → (a,b) struct)
    * so each gram hashes exactly once; requires the bitset row
    * (`barr` + `bloom_k`) joined into scope. The GEOMETRY COMES FROM
    * THE ARTIFACT — m = 62·size(barr), k = the bloom_k column — so a
    * bitset built at any derived geometry probes correctly with no
    * caller-supplied parameters to get wrong. Stateless and
    * shuffle-free — the form a streaming gate needs. */
  private def bloomAnyGramExpr: String = {
    val (haSql, hbSql) = bloomABSql("instr")
    val pos = s"(ab.ha + CAST(j AS BIGINT) * ab.hb) % " +
      s"(CAST($bloomWordBits AS BIGINT) * size(barr))"
    val test = bloomBitTestSql(pos)
    s"""exists(transform(transform($fivegramArrSql, g -> md5(g)),
       |  h -> struct($haSql AS ha, $hbSql AS hb)),
       |  ab -> forall(sequence(1, bloom_k), j -> $test))""".stripMargin
  }

  /** Bloom-gated corpus: drop every document whose text shares a
    * (bloom-positive) 5-gram with the heldout set — the streaming
    * twin of [[decontamKeep]]'s shape with the prefilter's cost
    * model: row-local, no shuffle, no state, so it runs unchanged
    * on a Structured Streaming source (stream-static join against
    * the 1-row bitset; see graft.streaming.DocsStream). False
    * positives drop slightly more than the exact gate — the
    * documented Bloom trade; [[bloomSummary]] measures it. */
  def bloomCleanOf(docs: DataFrame, bloomArr: DataFrame): DataFrame =
    docs
      .withColumn("one", lit(1))
      .join(broadcast(bloomArr.withColumn("one", lit(1))), "one")
      .withColumn("w", tokenExpr)
      .filter(!expr(bloomAnyGramExpr))
      .drop("one", "w", "barr", "bloom_k")

  private[llm] def computeBloomFlagged(
      s: SparkSession, d: String): DataFrame = {
    val g = fivegrams(s, d)
    val (haSql, hbSql) = bloomABSql("instr")
    def withAB(df: DataFrame): DataFrame =
      df.withColumn("h", md5(col("g")))
        .withColumn("ha", expr(haSql))
        .withColumn("hb", expr(hbSql))
        .drop("h")
    val bloomArr = bloomBitset(s, d)
    // probe: occurrence rows stream map-side through one broadcast
    // single-row cross-join (no pre-distinct — a corpus-wide distinct
    // would shuffle everything the filter exists to prune); survivors
    // dedup and count, so the only corpus-keyed exchange is
    // match+FP-sized
    val train = (1 to bloomK).foldLeft(
      withAB(g.filter(col("doc_id") % 97 =!= 0))
        .crossJoin(broadcast(bloomArr)))(
      (df, j) => df.withColumn(s"p$j",
        expr(s"(ha + $j * hb) % $bloomBits")))
    val allBitsSet = (1 to bloomK).map(j =>
      expr(bloomBitTestSql(s"p$j"))).reduce(_ && _)
    train.filter(allBitsSet)
      .select(col("doc_id"), col("g")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bloom_5grams"))
  }

  /** Probe path for a bitset that has OUTGROWN broadcast (a derived
    * geometry over a billions-of-grams heldout set can reach tens of
    * GiB): the bitset stays in its sparse `(word, bits)` form
    * ([[bloomWordTableOf]]) and the corpus probes it with a
    * hash-partitioned equi-join on `word` — no broadcast anywhere, no
    * single-row densify bottleneck. Each distinct (doc, gram) emits
    * exactly k probe rows; a gram is positive iff all k find their
    * bit set (an absent word row means bit clear). Same output as
    * [[computeBloomFlagged]] by construction (BloomSizingSpec).
    *
    * Cost shape vs. broadcast: the corpus-side probe rows shuffle on
    * `word` — that is the price of not broadcasting, and exactly how
    * a partitioned index probe runs at 100 TB. The (doc, gram)
    * pre-distinct IS worthwhile here (unlike the broadcast path)
    * because every surviving row pays the word shuffle anyway. */
  private[llm] def computeBloomFlaggedPartitioned(s: SparkSession,
      d: String, p: BloomParams = defaultBloom): DataFrame = {
    val (haSql, hbSql) = bloomABSql("instr")
    val heldout = fivegrams(s, d).filter(col("doc_id") % 97 === 0)
      .select(col("g")).distinct()
    val words = bloomWordTableOf(heldout, p)
    val probes = fivegrams(s, d).filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("g")).distinct()
      .withColumn("h", md5(col("g")))
      .withColumn("ha", expr(haSql))
      .withColumn("hb", expr(hbSql))
      .select(col("doc_id"), col("g"), explode(array((1 to p.k).map(j =>
        expr(s"(ha + $j * hb) % ${p.bits}")): _*)).as("p"))
      .select(col("doc_id"), col("g"),
        expr(s"p div $bloomWordBits").as("word"),
        expr(s"CAST(p % $bloomWordBits AS INT)").as("bit"))
    probes.join(words.hint("shuffle_hash"), Seq("word"), "left")
      .withColumn("hit",
        when(expr("(shiftright(bits, bit) & 1) = 1"), 1).otherwise(0))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("hit")).as("all_hit"))
      .filter(col("all_hit") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bloom_5grams"))
  }

  /** Bloom-flagged docs side-by-side with the exact answer: a row
    * per bloom-positive doc, its bloom-positive gram count, and the
    * exact shared-gram count (0 = the doc is a Bloom false
    * positive). Exactness containment — every exact hit is
    * bloom-flagged — is structural (no false negatives). */
  def decontamBloom(s: SparkSession, d: String): DataFrame = {
    val exact = decontaminate(s, d)
      .select(col("doc_id").as("eid"), col("n_shared_5grams"))
    bloomFlagged(s, d)
      .join(broadcast(exact), col("doc_id") === col("eid"), "left")
      .select(col("doc_id"), col("n_bloom_5grams"),
        coalesce(col("n_shared_5grams"), lit(0L)).as("n_exact_5grams"))
  }

  /** One-row accuracy/pruning report for the Bloom prefilter — the
    * measured-not-claimed number: how many flagged docs are real vs
    * false positives, and the gram-level overcount. */
  def bloomSummary(s: SparkSession, d: String): DataFrame =
    decontamBloom(s, d).agg(
      count(lit(1)).as("n_docs_flagged"),
      sum(when(col("n_exact_5grams") > 0, 1L).otherwise(0L))
        .as("n_docs_exact"),
      sum(when(col("n_exact_5grams") === 0, 1L).otherwise(0L))
        .as("n_docs_fp"),
      sum(col("n_bloom_5grams")).as("n_bloom_grams"),
      sum(col("n_exact_5grams")).as("n_exact_grams"))

  // ---------------------------------------------------------------
  // Repetition signals (Gopher-style quality rules): fraction of
  // bigram mass in the single most frequent bigram, and the
  // distinct-word ratio — both strong low-quality/boilerplate
  // indicators. One shuffle on (doc, bigram), then a partial-agg
  // reduce per doc; integers only.
  // ---------------------------------------------------------------
  def repetition(s: SparkSession, d: String): DataFrame = {
    val t = tokenized(s, d)
    // word-level stats are computed map-side from the token array (no
    // explode, no shuffle of the array); only the bigram counts take
    // the (doc, bigram) exchange
    val wordStats = t.select(col("doc_id"),
      expr("CAST(size(array_distinct(w)) AS BIGINT)").as("n_distinct"),
      expr("CAST(size(w) AS BIGINT)").as("n_words"))
    val bgStats = bigramRows(s, d)
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bg"))
    bgStats.join(wordStats, Seq("doc_id"))
      .select(col("doc_id"),
        floor(lit(1000.0) * col("top_c") / col("n_bg"))
          .as("top_bigram_x1000"),
        floor(lit(1000.0) * col("n_distinct") / col("n_words"))
          .as("distinct_ratio_x1000"))
  }

  // ---------------------------------------------------------------
  // Sequence packing — assign documents to fixed-token-budget
  // training sequences (greedy by running token count, deterministic
  // doc_id order). Packing is per (lang, shard): a running sum needs
  // an ordered partition, so the corpus is sharded deterministically
  // (doc_id % 8) and each shard packs independently — embarrassingly
  // parallel, exactly how a multi-worker tokenizer packs in practice
  // (bins are per-worker, never global).
  // ---------------------------------------------------------------
  private val packBudget = 2048L

  /** Oracle-pinned default shard count (the gate needs one fixed
    * value); deployments size the real knob via
    * [[packSequencesSharded]]. */
  private val packShards = 8

  def packSequences(s: SparkSession, d: String): DataFrame =
    packSequencesSharded(s, d, packShards)

  /** `shards` IS the parallelism knob: each shard's running token sum
    * is one ordered window partition = one reducer, so the correct
    * value scales with the cluster (e.g.
    * `spark.sparkContext.defaultParallelism`), never a constant — at
    * 100 TB, 8 shards would funnel the corpus through 8 reducers.
    *
    * Bins-per-worker contract: `seq_bin` is contiguous from 0 WITHIN
    * a shard and a packed sequence never crosses shards — the global
    * sequence id is the pair (shard, seq_bin), exactly how a
    * multi-worker tokenizer packs (each worker owns its bin space; no
    * global coordination). Changing `shards` re-bins the corpus but
    * preserves both invariants and the per-doc token counts. */
  def packSequencesSharded(
      s: SparkSession, d: String, shards: Int): DataFrame = {
    require(shards > 0, s"packing needs shards > 0, got $shards")
    val t = tokenized(s, d)
      .select(col("doc_id"), (col("doc_id") % shards).as("shard"),
        expr("CAST(size(w) AS BIGINT)").as("n_tokens"))
    val win = Window.partitionBy(col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum", sum(col("n_tokens")).over(win))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / lit(packBudget))
          .as("seq_bin"))
  }

  // ---------------------------------------------------------------
  // Overlapping window chunking — the retrieval/embedding prep step
  // (RAG chunking, context-window splitting): fixed-length token
  // windows with a stride overlap so no boundary context is lost,
  // each chunk fingerprinted for downstream dedup/lookup. Entirely
  // map-side: the chunk index explodes per row from integer
  // arithmetic, the slice + hash are row-local, and output
  // parallelism is chunk-grained — exactly what the embedding stage
  // downstream wants to consume. No shuffle anywhere.
  // ---------------------------------------------------------------
  private val chunkLen = 128
  private val chunkStride = 96

  def chunkWindows(s: SparkSession, d: String): DataFrame =
    tokenized(s, d)
      .select(col("doc_id"), col("w"),
        expr("CAST(size(w) AS BIGINT)").as("n"))
      .filter(col("n") > 0)
      // chunk count = 1 + max(0, ceil((n - len) / stride)); the
      // numerator goes negative for n < len - stride + 1, where both
      // engines' integer division truncates toward zero and
      // greatest(..., 0) clamps the QUOTIENT — an engine with floor
      // division would need the clamp on the numerator instead
      .select(col("doc_id"), col("w"), col("n"),
        explode(expr(
          s"""sequence(0L, greatest((n - $chunkLen + ${chunkStride - 1})
             |div $chunkStride, 0L))""".stripMargin)).as("chunk_idx"))
      .withColumn("chunk",
        expr(s"slice(w, CAST(chunk_idx * $chunkStride + 1 AS INT), " +
          s"$chunkLen)"))
      .select(col("doc_id"), col("chunk_idx"),
        expr("CAST(size(chunk) AS BIGINT)").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))

  /** Source-mix rollup — the table a data-mixing recipe is built
    * from (docs/tokens per source, before reweighting). Single
    * map-side partial agg. */
  def sourceStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("source"),
        size(tokenExpr).cast("bigint").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))

  /** Global top-20 bigrams with counts — corpus-level n-gram
    * frequency analysis. Partial-agg count per bigram, then
    * TakeOrderedAndProject (per-partition heap + driver merge of 20
    * rows) — no global sort at any scale. */
  def topBigrams(s: SparkSession, d: String): DataFrame =
    bigramRows(s, d)
      .groupBy(col("bg")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg"))
      .limit(20)

  /** Count-min sketch geometry: d=4 hash rows × w=1024 counters =
    * 32 KB of state for the whole corpus frequency table. Error is
    * ONE-SIDED (est ≥ exact always; collisions only inflate) with
    * E[overestimate] ≤ total_occurrences / w per row, min over d
    * rows. */
  private val cmsD = 4
  private val cmsW = 1024L

  /** Count-min sketch of the corpus bigram frequency table, with
    * the error MEASURED against the exact top-20 (the yardstick
    * re-run, the ann_recall pattern). The sketch is the heavy-
    * hitter/frequency structure for streams and merges (cell-wise
    * ADD — two shards' sketches sum into the union's sketch
    * exactly, like the KMV bottom-k merge): d·w = 4096 counters
    * regardless of corpus size.
    *
    * Scale shape: every bigram OCCURRENCE hashes ONCE (md5 +
    * Kirsch–Mitzenmacher double hashing — [[bloomABSql]]'s exact
    * discipline, one definition both engines share) and explodes to
    * its d cells; the build is ONE exchange on the ≤ 4096-cell key
    * space with map-side combine, so reducer input is
    * O(partitions × cells), not occurrences. The probe side joins
    * the 20×d queried cells against the cell table — broadcast-
    * scale by construction. The one-sided error guarantee
    * (overestimate ≥ 0) is spec-asserted; the measured overestimate
    * column is the survey's sketch-accuracy contract. */
  /** The d probe cells of the (`ha`, `hb`) hash pair — shared by
    * the build, the probe, and the streaming maintenance twin. */
  private val cmsCellsExpr =
    s"""transform(sequence(0, ${cmsD - 1}),
       |j -> CAST(j AS BIGINT) * $cmsW +
       |  (ha + CAST(j AS BIGINT) * hb) % $cmsW)""".stripMargin

  /** CMS cell counts `(cell, c)` for ONE document batch (any
    * DataFrame with a `text` column) — the unit the streaming
    * maintenance twin adds into the stored sketch; cell-wise
    * ADDITION of two batches' cell tables is exactly the cell table
    * of their union. */
  private[graft] def cmsCellsOf(docsDf: DataFrame): DataFrame = {
    val (haSql, hbSql) = bloomABSql("instr")
    docsDf.select(tokenExpr.as("w"))
      .select(explode(expr(bigramExpr)).as("bg"))
      .withColumn("h", md5(col("bg")))
      .select(expr(haSql).as("ha"), expr(hbSql).as("hb"))
      .select(explode(expr(cmsCellsExpr)).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("c"))
  }

  def cmsBigrams(s: SparkSession, d: String): DataFrame = {
    val (haSql, hbSql) = bloomABSql("instr")
    // both sides are per-snapshot artifacts — the ≤4096-cell sketch
    // (the very thing the streaming twin maintains as stored state)
    // and the 20-row exact yardstick; neither should re-pay its
    // corpus scan per read
    val cells = graft.SnapshotMemo.getOrCompute(s, s"cms-cells:$d") {
      Fixpoint.ser(cmsCellsOf(docs(s, d)))
    }
    val exact = graft.SnapshotMemo.getOrCompute(s, s"cms-top20:$d") {
      Fixpoint.ser(bigramRows(s, d)
        .groupBy(col("bg")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("bg"))
        .limit(20))
    }
    val keyed = exact
      .withColumn("h", md5(col("bg")))
      .select(col("bg"), col("exact_n"),
        expr(haSql).as("ha"), expr(hbSql).as("hb"))
      .select(col("bg"), col("exact_n"),
        explode(expr(cmsCellsExpr)).as("cell"))
    keyed.join(cells, Seq("cell"))
      .groupBy(col("bg"), col("exact_n"))
      .agg(min(col("c")).as("cms_est"))
      .select(col("bg"), col("exact_n"), col("cms_est"),
        (col("cms_est") - col("exact_n")).as("overestimate"))
  }

  // ---------------------------------------------------------------
  // Multimodal columns: media as opaque binary + typed metadata. The
  // decode is a clearly-marked deterministic stub (no image/audio
  // libs in this container — see graft.multimodal); the Spark-side
  // plumbing (binary payloads, integer metadata) is real and
  // oracle-checked here.
  // ---------------------------------------------------------------
  def binaryStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        octet_length(col("text")).cast("bigint").as("n_bytes"),
        md5(col("payload")).as("content_md5"))
      .withColumn("width", col("n_bytes") % 640 + 1)
      .withColumn("height", (col("n_bytes") * 31) % 480 + 1)
      .withColumn("n_frames", col("n_bytes") % 24 + 1)

  /** Video frame sampling plumbing: every 5th frame index per
    * document, exploded map-side into one row per sampled frame, with
    * a deterministic stub "decoded-frame fingerprint" standing in for
    * the codec call (no media libs in this container — the real
    * decode seam is `graft.multimodal.Multimodal`). The SHAPE is the
    * production one: explode is per-row (no shuffle), sampled frames
    * fan out to whatever parallelism downstream feature extraction
    * needs. */
  def frameSample(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        octet_length(col("text")).cast("bigint").as("n_bytes"))
      .withColumn("n_frames", col("n_bytes") % 24 + 1)
      .select(col("doc_id"), col("n_frames"),
        explode(expr("sequence(0L, n_frames - 1, 5L)")).as("frame_idx"))
      .withColumn("frame_md5",
        md5(concat(col("doc_id").cast("string"), lit("_"),
          col("frame_idx").cast("string"))))

  /** Resize planning over the synthetic binary metadata
    * ([[binaryStats]] dims) to a 320×240 bound — the oracle-checked
    * form of [[graft.multimodal.Multimodal.planResize]]'s integer
    * column math (map-side, no decode, no shuffle). */
  def resizePlan(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal.planResize(
      binaryStats(s, d).select(col("doc_id"),
        col("width").cast("int").as("width"),
        col("height").cast("int").as("height")),
      maxW = 320, maxH = 240)
      // bigint dims on both sides: the engines' int-width defaults
      // differ and the driver compares schemas
      .select(col("doc_id"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"),
        col("out_w").cast("bigint").as("out_w"),
        col("out_h").cast("bigint").as("out_h"),
        col("resize_needed"))

  /** REAL image header decode (not the stub): build genuine
    * PNG/JPEG byte streams per document (deterministic dims from
    * doc_id, via [[graft.multimodal.ImageHex]] → `unhex`), then parse
    * width/height back out of the actual bytes with the native
    * `image_dims` codegen expression — PNG IHDR
    * big-endian u32s, JPEG marker-segment walk to SOF0 (the walk has
    * to skip a real 16-byte APP0/JFIF segment here). The oracle
    * builds the SAME bytes through DuckDB's `from_hex` blob and
    * extracts the fields independently by header-offset arithmetic,
    * so a parser that mis-walks by even one byte hash-mismatches. A
    * failed parse lands in a null `kind` group the oracle doesn't
    * have — also a gate failure. Map-side only: construct → parse →
    * partial agg; one bounded exchange on the 2-value kind key. */
  def imageDims(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    val payload = docs(s, d)
      .select(col("doc_id"),
        expr("(doc_id % 1920) + 1").as("w0"),
        expr("((doc_id * 7) % 1080) + 1").as("h0"))
      .withColumn("hs", expr(
        s"""CASE WHEN doc_id % 2 = 0
           |  THEN ${ImageHex.pngHex("w0", "h0", "div")}
           |  ELSE ${ImageHex.jpegHex("w0", "h0", "div")} END"""
          .stripMargin))
      .withColumn("payload", unhex(col("hs")))
    payload
      .withColumn("dims", NativeFunctions.imageDims(col("payload")))
      .groupBy(col("dims.kind").as("kind"))
      .agg(count(lit(1)).as("n_imgs"),
        sum(col("dims.width")).as("sum_w"),
        sum(col("dims.height")).as("sum_h"),
        min(col("dims.width")).as("min_w"),
        max(col("dims.width")).as("max_w"),
        min(col("dims.height")).as("min_h"),
        max(col("dims.height")).as("max_h"))
  }

  /** GIF logical-screen dimensions — the third common image
    * container, completing [[imageDims]]' header family: build
    * minimal COMPLETE GIF89a files per document (LE dims — the
    * format-endianness counterpoint to PNG's BE within the same
    * parser), decode with the same `image_dims` codegen expression,
    * roll up. The oracle re-reads the dims POSITIONALLY from the
    * rebuilt hex with little-endian byte arithmetic — a parser that
    * reads BE, or misplaces the screen descriptor, hash-mismatches. */
  def gifDims(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    docs(s, d)
      .select(col("doc_id"),
        expr("(doc_id % 1500) + 1").as("w0"),
        expr("((doc_id * 11) % 900) + 1").as("h0"))
      .withColumn("payload",
        unhex(expr(ImageHex.gifHex("w0", "h0", "div"))))
      .withColumn("dims", NativeFunctions.imageDims(col("payload")))
      .select(col("doc_id"), col("dims.kind").as("kind"),
        col("dims.width").cast("bigint").as("width"),
        col("dims.height").cast("bigint").as("height"))
  }

  /** TIFF dimensions, BOTH byte orders (`mm_tiff_dims`) — the one
    * header-family member that declares its endianness in-band:
    * even doc_ids build 'II' (little-endian) files, odd build 'MM'
    * (big-endian), each a minimal complete first IFD with
    * ImageWidth as a LONG (widths above 65535 prove the 4-byte
    * path) and ImageLength as a SHORT inline in the leading value
    * bytes — the placement rule naive parsers get wrong in exactly
    * one byte order. Same codegen `image_dims` expression and
    * rollup as [[gifDims]]; the oracle re-reads both dims
    * positionally with the matching per-row endianness arithmetic. */
  def tiffDims(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    docs(s, d)
      .select(col("doc_id"),
        expr("(doc_id * 7) % 100000 + 1").as("w0"),
        expr("((doc_id * 11) % 60000) + 1").as("h0"))
      .withColumn("payload", unhex(
        when(col("doc_id") % 2 === 0,
          expr(ImageHex.tiffHexLE("w0", "h0", "div")))
          .otherwise(expr(ImageHex.tiffHexBE("w0", "h0", "div")))))
      .withColumn("dims", NativeFunctions.imageDims(col("payload")))
      .select(col("doc_id"), col("dims.kind").as("kind"),
        col("dims.width").cast("bigint").as("width"),
        col("dims.height").cast("bigint").as("height"))
  }

  /** WebP dimensions, both container forms the byte-arithmetic
    * parser supports on fixture files: `VP8 ` (lossy — sync-code
    * check then LE 14-bit dims from the frame header) and `VP8X`
    * (extended — 24-bit LE canvas minus one). The third form,
    * `VP8L`'s LSB-first bit-packed dims, is covered by
    * ImageHeadersSpec with JVM-built bytes (its bit packing has no
    * clean positional-hex spelling). Same rollup shape as
    * [[gifDims]]. */
  def webpDims(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    docs(s, d)
      .select(col("doc_id"),
        expr("(doc_id % 4000) + 1").as("w0"),
        expr("((doc_id * 13) % 3000) + 1").as("h0"))
      .withColumn("payload", unhex(expr(
        s"""CASE WHEN doc_id % 2 = 0
           |  THEN ${ImageHex.webpVp8Hex("w0", "h0", "div")}
           |  ELSE ${ImageHex.webpVp8xHex("w0", "h0", "div")} END"""
          .stripMargin)))
      .withColumn("dims", NativeFunctions.imageDims(col("payload")))
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("vp8"))
          .otherwise(lit("vp8x")).as("form"),
        col("dims.kind").as("kind"),
        col("dims.width").cast("bigint").as("width"),
        col("dims.height").cast("bigint").as("height"))
  }

  /** FLAC VORBIS_COMMENT tags (`mm_flac_tags`) — the tag family's
    * second member next to ID3, and a cross-endian exercise by
    * construction: block FRAMING lengths are u24 big-endian, the
    * comment payload's are u32 LITTLE-endian (the Vorbis spec), so
    * a parser applying one discipline to both mis-walks
    * immediately. Keys are case-insensitive per spec (the fixture
    * writes canonical uppercase); two of three docs carry ALBUM —
    * absence is a null field, not an error. Decoded by the native
    * `flac_tags` expression; component-replay
    * oracle proves the strings survive the walk byte-exactly.
    * Map-side construct → parse → project. */
  def flacTags(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    def hexStr(e: String) = s"hex(encode($e, 'UTF-8'))"
    docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(44100, 48000, 96000), " +
          "CAST(doc_id % 3 AS INT) + 1)").as("rate0"),
        expr("CAST(doc_id % 2 AS INT) + 1").as("ch0"),
        lit(16).as("bits0"),
        expr("(doc_id * 313) % 100000000").as("total0"),
        expr("concat('Title ', CAST(doc_id AS STRING))").as("t1"),
        expr("concat('Artist ', CAST(doc_id % 9 AS STRING))").as("t2"),
        expr("concat('Album ', CAST(doc_id % 13 AS STRING))").as("t3"),
        expr("doc_id % 3 != 0").as("hasalb"))
      .withColumn("payload", unhex(expr(AudioHex.flacTagsHex(
        "rate0", "ch0", "bits0", "total0", "t1", "t2", "t3",
        "hasalb", "div", hexStr))))
      .withColumn("m", NativeFunctions.flacTags(col("payload")))
      .select(col("doc_id"), col("m.title").as("title"),
        col("m.artist").as("artist"), col("m.album").as("album"))
  }

  /** Ogg/Vorbis COMMENT-header tags (`mm_ogg_tags`) — the tag half
    * the page walk only skips, completing artist/title/album
    * extraction across all THREE audio tag carriers (ID3v2, FLAC
    * VORBIS_COMMENT, and now the Ogg comment packet) through the
    * same magic-dispatched tags expression: per-document three-page
    * streams whose second page carries the `0x03 "vorbis"` packet —
    * reassembled from LACING values, the little-endian
    * length-prefixed comment structure, the mandatory framing
    * bit — decoded by `flac_tags`' "OggS" dispatch
    * ([[graft.multimodal.AudioHeaders.parseOggTags]]). The oracle
    * re-reads every comment POSITIONALLY through the packet's own
    * length chain, the [[flacTags]] discipline. Map-side construct
    * → parse → project; no shuffle. */
  def oggTags(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    def hexStr(e: String) = s"hex(encode($e, 'UTF-8'))"
    docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(8000, 22050, 44100, 48000), " +
          "CAST(doc_id % 4 AS INT) + 1)").as("rate0"),
        expr("CAST(doc_id % 2 AS INT) + 1").as("ch0"),
        expr("(doc_id * 769) % 1000000000").as("total0"),
        expr("CAST(doc_id % 40 AS INT) + 1").as("pad0"),
        expr("concat('Song ', CAST(doc_id AS STRING))").as("t1"),
        expr("concat('Band ', CAST(doc_id % 9 AS STRING))").as("t2"),
        expr("concat('Disc ', CAST(doc_id % 13 AS STRING))").as("t3"),
        expr("doc_id % 3 != 0").as("hasalb"))
      .withColumn("payload", unhex(expr(AudioHex.oggTagsHex(
        "rate0", "ch0", "total0", "pad0", "t1", "t2", "t3",
        "hasalb", "div", hexStr))))
      .withColumn("m", NativeFunctions.flacTags(col("payload")))
      .select(col("doc_id"), col("m.title").as("title"),
        col("m.artist").as("artist"), col("m.album").as("album"))
  }

  /** Ogg/Vorbis metadata (`mm_ogg_meta`) — the PAGE-structured
    * audio container through the same magic-dispatched `audio_meta`
    * expression as WAV and FLAC: geometry from the BOS page's
    * Vorbis identification packet, DURATION from the LAST page's
    * granule position (the seek-to-EOF rule every player uses), the
    * page chain crossed by lacing arithmetic — never a capture-
    * pattern scan, since payloads may contain "OggS". Lossy codec →
    * bits = 0, the documented sentinel. The oracle re-reads
    * channels/rate from the first page and the granule from the
    * second positionally — a walk that trusts the wrong page or
    * mis-sums lacing values lands on the wrong granule and
    * hash-mismatches. Same bounded geometry-rollup shape as
    * [[flacMeta]]. */
  def oggMeta(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(8000, 16000, 22050, 44100, 48000), " +
          "CAST(doc_id % 5 AS INT) + 1)").as("rate0"),
        expr("CAST((doc_id * 5) % 6 AS INT) + 1").as("ch0"),
        expr("(doc_id * 991) % 1000000000").as("total0"),
        expr("CAST(doc_id % 40 AS INT) + 1").as("pad0"))
      .withColumn("payload", unhex(expr(AudioHex.oggHex(
        "rate0", "ch0", "total0", "pad0", "div"))))
      .withColumn("m", NativeFunctions.audioMeta(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_samples")).as("sum_samples"),
        sum(expr("m.n_samples * 1000 div m.sample_rate")).as("sum_ms"))
  }

  /** EXIF orientation (`mm_exif_meta`) — the tag every photo
    * pipeline must honor BEFORE any resize plan: a corpus mixing
    * EXIF-less JPEGs (orientation defaults to 1), little-endian
    * ("II") and big-endian ("MM") embedded TIFF blocks is decoded
    * by the native `exif_meta` codegen expression,
    * and the DISPLAY dimensions are derived per the spec —
    * orientations 5–8 transpose, so `oriented_w/h` swap. The oracle
    * re-reads orientation positionally with the matching per-row
    * endianness (a parser applying one byte order to both halves of
    * the corpus hash-mismatches) and re-derives the swap in SQL.
    * Map-side construct → parse → project; no shuffle at all —
    * exactly the per-object metadata pass a 100 TB photo lake runs
    * before its resize fleet. */
  def exifMeta(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    docs(s, d)
      .select(col("doc_id"),
        expr("(doc_id % 800) + 1").as("w0"),
        expr("((doc_id * 7) % 600) + 1").as("h0"),
        expr("CAST(doc_id % 8 AS INT) + 1").as("or0"))
      .withColumn("payload", unhex(expr(
        s"""CASE WHEN doc_id % 5 = 0
           |  THEN ${ImageHex.jpegHex("w0", "h0", "div")}
           |  WHEN doc_id % 2 = 0
           |  THEN ${ImageHex.jpegExifHex("w0", "h0", "or0", le = true, "div")}
           |  ELSE ${ImageHex.jpegExifHex("w0", "h0", "or0", le = false, "div")}
           |END""".stripMargin)))
      .withColumn("m", NativeFunctions.exifMeta(col("payload")))
      .select(col("doc_id"),
        col("m.width").cast("bigint").as("width"),
        col("m.height").cast("bigint").as("height"),
        col("m.orientation").cast("bigint").as("orientation"),
        when(col("m.orientation") >= 5, col("m.height"))
          .otherwise(col("m.width")).cast("bigint").as("oriented_w"),
        when(col("m.orientation") >= 5, col("m.width"))
          .otherwise(col("m.height")).cast("bigint").as("oriented_h"))
  }

  /** REAL audio header decode — [[imageDims]]' little-endian
    * sibling: build genuine PCM WAV headers per document
    * (deterministic rate/channels/size from doc_id, via
    * [[graft.multimodal.AudioHex]] → `unhex`), parse them back with
    * the native `audio_meta` codegen expression —
    * RIFF chunk walk that must skip a real 20-byte LIST chunk before
    * "fmt " — and roll up per (sample_rate, channels) with exact
    * integer durations (n_samples · 1000 div rate). The oracle
    * builds the SAME bytes through a real DuckDB BLOB and extracts
    * the little-endian fields by offset arithmetic, so a parser
    * that mis-walks or byte-swaps hash-mismatches; a failed parse
    * lands in a null group the oracle doesn't have. Map-side
    * construct → parse → partial agg; one bounded exchange on the
    * ~10-key (rate, channels) space. */
  def audioMeta(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    val payload = docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(8000, 16000, 22050, 44100, 48000), " +
          "CAST(doc_id % 5 AS INT) + 1)").as("rate0"),
        expr("CAST(doc_id % 2 AS INT) + 1").as("ch0"),
        expr("(doc_id * 211) % 262144 + 4").as("db0"))
      .withColumn("hs",
        expr(AudioHex.wavHex("rate0", "ch0", "db0", "div")))
      .withColumn("payload", unhex(col("hs")))
    payload
      .withColumn("m", NativeFunctions.audioMeta(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_samples")).as("sum_samples"),
        sum(expr("m.n_samples * 1000 div m.sample_rate")).as("sum_ms"))
  }

  /** IEEE-float WAV metadata (`mm_audio_float_meta`) — format tag 3,
    * the studio/DAW wire format: geometry lives entirely in the
    * header (channels, rate, bits=32, declared sample count), so the
    * metadata lane is exact with NO sample decode — float sample
    * ARITHMETIC stays deliberately out (not oracle-exact), the one
    * WAV family member where metering would lie. Same map-side
    * construct → decode → bounded rollup as [[audioMeta]], the
    * bits column proving the fmt-3 path end-to-end. */
  def audioFloatMeta(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(44100, 48000, 96000), " +
          "CAST(doc_id % 3 AS INT) + 1)").as("rate0"),
        expr("CAST(doc_id % 2 AS INT) + 1").as("ch0"),
        expr("(doc_id * 37) % 96000 + 4").as("nv0"))
      .withColumn("payload", unhex(
        expr(AudioHex.wavHexFloat("rate0", "ch0", "nv0", "div"))))
      .withColumn("m", NativeFunctions.audioMeta(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"),
        col("m.bits").cast("bigint").as("bits"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_samples")).as("sum_samples"))
  }

  /** FLAC STREAMINFO metadata (`mm_flac_meta`) — the audio
    * container family's big-endian, BIT-PACKED member (WAV is LE
    * and byte-aligned), decoded by the same `audio_meta` codegen
    * expression, which sniffs the in-band magic like `image_dims`
    * does for images: build per-document FLAC heads (full channel
    * range 1–8, 8/16-bit, realistic rate ladder, sub-2³² sample
    * counts; odd docs carry a declared-length PADDING block so
    * STREAMINFO's is-last bit genuinely varies), parse, roll up per
    * (rate, channels, bits) with exact integer durations. The
    * oracle re-reads the NIBBLE-ALIGNED geometry pack positionally
    * — a parser that byte-swaps, misplaces the 20-bit rate, or
    * off-by-ones the −1-coded channel/bits fields hash-mismatches.
    * Map-side construct → parse → partial agg; one bounded exchange
    * on the ≤ 160-key geometry space. */
  def flacMeta(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(8000, 16000, 22050, 32000, 44100, " +
          "48000, 88200, 96000), CAST(doc_id % 8 AS INT) + 1)")
          .as("rate0"),
        expr("CAST((doc_id * 3) % 8 AS INT) + 1").as("ch0"),
        expr("CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END").as("bits0"),
        expr("(doc_id * 97) % 100000000").as("total0"),
        expr("doc_id % 2 = 1").as("haspad0"),
        expr("CAST(doc_id % 16 AS INT)").as("pad0"))
      .withColumn("payload", unhex(expr(AudioHex.flacHex(
        "rate0", "ch0", "bits0", "total0", "haspad0", "pad0", "div"))))
      .withColumn("m", NativeFunctions.audioMeta(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"),
        col("m.bits").cast("bigint").as("bits"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_samples")).as("sum_samples"),
        sum(expr("m.n_samples * 1000 div m.sample_rate")).as("sum_ms"))
  }

  /** The `mm_flac_pcm` fixture's sample formulas — free variable
    * `i` for the VERBATIM channel; shared verbatim by engine and
    * oracle so both sides build identical frames. */
  private val FlacSampleExpr = "((doc_id * 131 + i * 277) % 65536)"
  private val FlacConstExpr = "((doc_id * 7919) % 65536)"

  /** REAL FLAC sample decode for the uncoded subframe types
    * (`mm_flac_pcm`) — the audio I_PCM analog, narrowing the
    * entropy-coded stub again: build complete FLAC files
    * (STREAMINFO + one audio FRAME whose channel 0 is a VERBATIM
    * subframe of real 16-bit samples and channel 1, when present, a
    * CONSTANT subframe), walk the frame with the native
    * `flac_pcm_levels` bit reader (sync code,
    * blocksize/rate/sample-size codes, UTF-8 frame number, subframe
    * headers, sign extension, CONSTANT block expansion), and meter
    * the decoded samples with the family's exact-integer meter
    * (energy, peak |s|, full-scale rail count). The oracle rebuilds
    * the identical bytes and replays the samples POSITIONALLY from
    * the hex — a decoder that drops the subframe header, mis-signs,
    * or forgets that CONSTANT covers the whole block
    * hash-mismatches on the energy sum. Map-side construct → decode
    * → partial agg; one bounded exchange on the ≤ 8-key
    * (rate, channels) space. */
  def flacPcm(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(8000, 22050, 44100, 48000), " +
          "CAST(doc_id % 4 AS INT) + 1)").as("rate0"),
        expr("CAST(doc_id % 2 AS INT) + 1").as("ch0"),
        expr("CAST(doc_id % 12 + 4 AS INT)").as("ns0"))
      .withColumn("hs", expr(
        s"concat(${AudioHex.flacHex("rate0", "ch0", "16", "ns0",
          "false", "0", "div")}, " +
          s"${AudioHex.flacFrameHex("ch0", "ns0", FlacSampleExpr,
            FlacConstExpr, "div", spark = true)})"))
      .withColumn("payload", unhex(col("hs")))
      .withColumn("m", NativeFunctions.flacPcmLevels(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_values")).as("sum_values"),
        sum(col("m.sum_sq")).as("sum_sq"),
        max(col("m.peak").cast("bigint")).as("max_peak"),
        sum(col("m.n_clipped")).as("sum_clipped"))
  }

  /** Decision-STUMP training (`llm_quality_stump`) — the trainer
    * side of the quality-model seam ([[qualityScore]] is the
    * inference side; this is the boosting weak learner): for each
    * text-stat feature, the best threshold classifier for the
    * label `lang = 'en'`, with exact integer error counts. On the
    * synthetic fixture the labels are deliberately hard (text is
    * not language-differentiated), so the HONEST output is
    * near-chance errors for every feature — the trainer reports
    * that, rather than hallucinating separation; QualityStumpSpec
    * proves it finds the known-optimal stump on a corpus where
    * separation is real. Both polarities (`>=` predicts positive,
    * or its complement) considered; ties break deterministically on
    * (errors, threshold, polarity).
    *
    * Scale shape — the classic distributed stump: docs collapse
    * map-side into (feature, value, n_pos, n_neg) rows, so the
    * threshold sweep runs at VALUE granularity (bounded by the
    * scaled-integer feature domains, not the corpus); per feature
    * one window pass computes exclusive prefix sums, every
    * threshold's error is two additions, and the per-feature argmin
    * is one encoded-min aggregate. One exchange on the feature key;
    * nothing doc-scale ever sorts. */
  /** The stump/boosting feature frame: `(doc_id, lang, is_pos,
    * n_tokens, stop_x1000, mean_wordlen_x100, punct_x1000)` — the
    * [[textStats]] formulas with the `lang = 'en'` label, shared by
    * the single-stump trainer, the boosted trainer, and ensemble
    * scoring so all three see byte-identical features. */
  private[graft] def stumpFeatsOf(in: DataFrame): DataFrame = {
    val sw = stopwords.map(x => s"'$x'").mkString(", ")
    in.select(col("doc_id"), col("lang"), tokenExpr.as("w"),
      col("text"), (col("lang") === "en").cast("int").as("is_pos"))
      .select(col("doc_id"), col("lang"), col("is_pos"),
        expr("CAST(size(w) AS BIGINT)").as("n_tokens"),
        expr("""CAST(length(regexp_replace(trim(text), '\\s+', ''))
                AS BIGINT)""").as("n_nonspace"),
        expr("CAST(length(text) AS BIGINT)").as("n_chars_calc"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,;:!?]", "")))
          .cast("bigint").as("n_punct"),
        expr(s"CAST(size(filter(w, x -> x IN ($sw))) AS BIGINT)")
          .as("n_stop"))
      .select(col("doc_id"), col("lang"), col("is_pos"),
        col("n_tokens"),
        floor(lit(1000.0) * col("n_stop") / col("n_tokens"))
          .as("stop_x1000"),
        floor(lit(100.0) * col("n_nonspace") / col("n_tokens"))
          .as("mean_wordlen_x100"),
        floor(lit(1000.0) * col("n_punct") / col("n_chars_calc"))
          .as("punct_x1000"))
  }

  def qualityStump(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feats = stumpFeatsOf(docs(s, d))
    val long = feats.select(col("is_pos"), explode(expr(
      "array(named_struct('feature', 'n_tokens', 'x', n_tokens), " +
        "named_struct('feature', 'stop_x1000', 'x', stop_x1000), " +
        "named_struct('feature', 'mean_wordlen_x100', 'x', " +
        "mean_wordlen_x100), " +
        "named_struct('feature', 'punct_x1000', 'x', punct_x1000))"))
      .as("fx"))
      .select(col("fx.feature").as("feature"), col("fx.x").as("x"),
        col("is_pos"))
    val vals = long.groupBy(col("feature"), col("x"))
      .agg(sum(col("is_pos")).as("n_pos"),
        sum(lit(1) - col("is_pos")).as("n_neg"))
    val byVal = Window.partitionBy(col("feature")).orderBy(col("x"))
    val whole = Window.partitionBy(col("feature"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val excl = byVal.rowsBetween(Window.unboundedPreceding, -1)
    val scored = vals
      .withColumn("cum_pos_lt", coalesce(sum(col("n_pos")).over(excl),
        lit(0L)))
      .withColumn("cum_neg_lt", coalesce(sum(col("n_neg")).over(excl),
        lit(0L)))
      .withColumn("tot_pos", sum(col("n_pos")).over(whole))
      .withColumn("tot_neg", sum(col("n_neg")).over(whole))
      // predict positive iff x >= t: misses the positives below t,
      // false-alarms the negatives at/above t
      .withColumn("err_ge", col("cum_pos_lt") +
        (col("tot_neg") - col("cum_neg_lt")))
      .withColumn("err_lt",
        col("tot_pos") + col("tot_neg") - col("err_ge"))
      .withColumn("n_errors", least(col("err_ge"), col("err_lt")))
      .withColumn("polarity",
        when(col("err_ge") <= col("err_lt"), "ge").otherwise("lt"))
    scored.groupBy(col("feature"))
      .agg(min(struct(col("n_errors"), col("x").as("threshold"),
        col("polarity"))).as("best"),
        max(col("tot_pos")).as("n_pos"),
        max(col("tot_neg")).as("n_neg"))
      .select(col("feature"), col("best.threshold").as("threshold"),
        col("best.polarity").as("polarity"),
        col("best.n_errors").as("n_errors"),
        col("n_pos"), col("n_neg"))
  }

  /** One trained weak learner of the boosted ensemble. `alpha` is
    * the stump's EXACT integer vote weight: weighted correct minus
    * weighted incorrect (`w_total − 2·w_err`) — always ≥ 0 because
    * the polarity choice caps `w_err` at half the total, and 0
    * exactly when the stump is weighted chance (an honest no-vote
    * on non-separable data). */
  private[graft] final case class BoostStump(round: Int,
      feature: String, threshold: Long, polarity: String,
      wErr: Long, wTotal: Long) {
    def alpha: Long = wTotal - 2 * wErr
  }

  private[graft] val boostFeatureNames: Seq[String] = Seq(
    "n_tokens", "stop_x1000", "mean_wordlen_x100", "punct_x1000")

  /** Integer-exact BOOSTED-stump training over a feature frame —
    * the weight-DOUBLING variant of AdaBoost (misclassified
    * examples double their integer weight each round; vote weight
    * `alpha = w_total − 2·w_err`), chosen because every quantity
    * stays an exact integer, so engine and oracle can agree to the
    * bit with no floating-point log-odds anywhere.
    *
    * Scale shape — the Lloyd/BPE driver-loop discipline: example
    * weights are NEVER materialized as corpus state; each round
    * recomputes them MAP-SIDE as a product over the (tiny,
    * broadcast-by-value) stumps-so-far, so a round costs one scan +
    * one exchange on the value-granular (feature, x) key space —
    * bounded by the scaled-integer feature domains, not the corpus
    * — and the driver collects exactly ONE argmin row per round.
    * `rounds` is a small constant (3); weights are bounded by
    * `2^rounds`. */
  private[graft] def trainBoostedOf(featsIn: DataFrame,
      rounds: Int): Seq[BoostStump] = {
    import org.apache.spark.sql.expressions.Window
    // materialize the COMPACT integer feature frame once: every
    // round re-evaluated the full tokenization/regex pipeline over
    // the corpus (rounds + 0 scans of text for a 7-narrow-column
    // frame — guide §1.2 "don't compute things twice"); the
    // checkpoint is doc-count-scale and freed when training ends
    val feats = Fixpoint.ser(featsIn)
    try {
    var stumps = Vector.empty[BoostStump]
    for (t <- 1 to rounds) {
      // map-side weight: product of 2-per-misclassification over
      // the stumps trained so far (literals — no join, no state)
      val wCol = stumps.foldLeft(lit(1L)) { (acc, st) =>
        val x = col(st.feature)
        val predPos =
          if (st.polarity == "ge") x >= lit(st.threshold)
          else x < lit(st.threshold)
        val mis = predPos =!= (col("is_pos") === 1)
        acc * when(mis, lit(2L)).otherwise(lit(1L))
      }
      val long = feats.withColumn("wt", wCol)
        .select(col("is_pos"), col("wt"), explode(expr(
          "array(" + boostFeatureNames.map(f =>
            s"named_struct('feature', '$f', 'x', $f)")
            .mkString(", ") + ")")).as("fx"))
        .select(col("fx.feature").as("feature"),
          col("fx.x").as("x"), col("is_pos"), col("wt"))
      val vals = long.groupBy(col("feature"), col("x"))
        .agg(sum(col("wt") * col("is_pos")).as("wp"),
          sum(col("wt") * (lit(1) - col("is_pos"))).as("wn"))
      val byVal = Window.partitionBy(col("feature")).orderBy(col("x"))
      val whole = Window.partitionBy(col("feature"))
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
      val excl = byVal.rowsBetween(Window.unboundedPreceding, -1)
      val best = vals
        .withColumn("cum_wp_lt",
          coalesce(sum(col("wp")).over(excl), lit(0L)))
        .withColumn("cum_wn_lt",
          coalesce(sum(col("wn")).over(excl), lit(0L)))
        .withColumn("tot_wp", sum(col("wp")).over(whole))
        .withColumn("tot_wn", sum(col("wn")).over(whole))
        .withColumn("err_ge", col("cum_wp_lt") +
          (col("tot_wn") - col("cum_wn_lt")))
        .withColumn("err_lt",
          col("tot_wp") + col("tot_wn") - col("err_ge"))
        .withColumn("n_errors", least(col("err_ge"), col("err_lt")))
        .withColumn("polarity",
          when(col("err_ge") <= col("err_lt"), "ge").otherwise("lt"))
        // GLOBAL argmin with a total deterministic order — ONE row
        // to the driver per round (the bounded-artifact discipline)
        .agg(min(struct(col("n_errors"), col("feature"),
          col("x").as("threshold"), col("polarity"))).as("b"),
          max(col("tot_wp") + col("tot_wn")).as("w_total"))
        .select(col("b.n_errors"), col("b.feature"),
          col("b.threshold"), col("b.polarity"), col("w_total"))
        .head()
      stumps :+= BoostStump(t, best.getString(1), best.getLong(2),
        best.getString(3), best.getLong(0), best.getLong(4))
    }
    stumps
    } finally {
      Fixpoint.free(feats)
    }
  }

  private[graft] val boostRounds = 3

  /** The stored trained-ensemble artifact — the quality seam's
    * TRAINED half ([[qualityWeightsPath]] is the hand-pinned linear
    * slot; this one's weights genuinely come out of
    * [[trainBoostedOf]]): written once per snapshot, read +
    * broadcast by [[qualityBoostedScore]]. */
  private[graft] def qualityEnsemblePath(s: SparkSession,
      d: String): String =
    SnapshotMemo.stored(s, d, "quality-ensemble") { path =>
      val spark = s
      import spark.implicits._
      val stumps = trainBoostedOf(stumpFeatsOf(docs(s, d)),
        boostRounds)
      stumps.map(st => (st.round.toLong, st.feature, st.threshold,
        st.polarity, st.wErr, st.wTotal, st.alpha))
        .toDF("round", "feature", "threshold", "polarity",
          "w_err", "w_total", "alpha")
        .write.mode("overwrite").parquet(path)
    }

  /** BOOSTED-stump training (`llm_quality_boosted`) — closes the
    * quality train→score loop the round-13 verdict called for: the
    * per-round weak learners with exact integer weighted errors and
    * vote weights, read back from the stored ensemble artifact. The
    * oracle replays the ENTIRE training unrolled round by round
    * (materialized-CTE stages, the BPE-oracle discipline), so a
    * reweighting or tie-break divergence in any round
    * hash-mismatches. */
  def qualityBoosted(s: SparkSession, d: String): DataFrame =
    s.read.parquet(qualityEnsemblePath(s, d))
      .select(col("round"), col("feature"), col("threshold"),
        col("polarity"), col("w_err"), col("w_total"), col("alpha"))

  /** Ensemble inference core: sign of the alpha-weighted stump vote
    * (ties → positive), rolled up per language. `ens` is the
    * vocabulary-sized trained artifact — broadcast by design. */
  private[graft] def boostedScoreOf(feats: DataFrame,
      ens: DataFrame): DataFrame = {
    val xF = expr("CASE feature WHEN 'n_tokens' THEN n_tokens " +
      "WHEN 'stop_x1000' THEN stop_x1000 " +
      "WHEN 'mean_wordlen_x100' THEN mean_wordlen_x100 " +
      "ELSE punct_x1000 END")
    feats.crossJoin(broadcast(ens))
      .withColumn("pred_pos",
        (xF >= col("threshold")) === (col("polarity") === "ge"))
      .withColumn("h",
        when(col("pred_pos"), lit(1L)).otherwise(lit(-1L)))
      .groupBy(col("doc_id"), col("lang"), col("is_pos"))
      .agg(sum(col("alpha") * col("h")).as("vote"))
      .withColumn("pred",
        when(col("vote") >= 0L, 1).otherwise(0))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pred").cast("bigint")).as("n_pred_pos"),
        sum((col("pred") === col("is_pos")).cast("bigint"))
          .as("n_correct"))
  }

  /** TRAINED-ensemble scoring (`llm_quality_boosted_score`) — the
    * inference half of the closed loop: the corpus scored by the
    * STORED boosted ensemble (train → artifact → broadcast →
    * map-side vote), per-language confusion rollup. Scale shape:
    * the ensemble is 3 rows (broadcast); the vote is one doc-keyed
    * partial aggregate; the rollup is one exchange on the 4-key
    * lang space. */
  def qualityBoostedScore(s: SparkSession, d: String): DataFrame =
    boostedScoreOf(stumpFeatsOf(docs(s, d)),
      s.read.parquet(qualityEnsemblePath(s, d)))

  // ---------------------------------------------------------------
  // Trained language ID — the heuristic [[LangId]] demoted to
  // fallback: a character-bigram Naive Bayes trained through the
  // stored-weight seam (the boosted-stump discipline: train once →
  // parquet artifact → broadcast → map-side scoring). The synthetic
  // corpus's lang column is uncorrelated with its text, so the
  // LABELED FIXTURE is constructed: per doc a language label
  // (doc_id % 4 over de/en/fr/nl) and ten words drawn
  // deterministically from that language's 12-word pool — pools
  // genuinely language-flavored WITH cross-language collisions
  // ("water" en+nl, "licht" nl+de, "de" nl-word vs de-code) so the
  // classifier does real Bayes work, not vocabulary lookup. The
  // grammar is shared string-for-string with the oracle.
  //
  // Exactness delta (the BM25-log-omission discipline): the NB log
  // is taken at 1-BIT RESOLUTION — floor(log2(n)) computed exactly
  // as length(bin(n)) − 1 in both engines (no floating log, so a
  // boundary can never flip between libm and the JVM). Weight of
  // gram g under language L = flog2(cnt(L,g)+1) − flog2(tot(L)+V)
  // (add-one smoothing over the training vocabulary V); a document
  // scores Σ over its gram OCCURRENCES; argmax with lang-ascending
  // tie-break.
  // ---------------------------------------------------------------

  private val langIdLangs = Seq("de", "en", "fr", "nl")
  private val langIdPools: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "und", "nicht", "wasser", "haus", "kirche",
      "alt", "strasse", "wand", "malerei", "licht", "von"),
    "en" -> Seq("the", "and", "water", "house", "with", "from",
      "street", "old", "painting", "wall", "church", "light"),
    "fr" -> Seq("le", "la", "et", "eau", "maison", "rue", "vieux",
      "peinture", "mur", "eglise", "lumiere", "avec"),
    "nl" -> Seq("de", "het", "een", "van", "muur", "schildering",
      "kerk", "oud", "straat", "water", "licht", "huis"))

  /** The labeled-fixture grammar, Spark spelling: lang CASE and the
    * pool CASE keyed by doc_id % 4 (0→de, 1→en, 2→fr, 3→nl). */
  private def langIdLangExpr: String =
    "CASE CAST(doc_id % 4 AS INT) " + langIdLangs.zipWithIndex.map {
      case (l, i) => s"WHEN $i THEN '$l'"
    }.mkString(" ") + " END"

  private def langIdPoolExpr(arr: String => String): String =
    "CASE CAST(doc_id % 4 AS INT) " + langIdLangs.zipWithIndex.map {
      case (l, i) =>
        s"WHEN $i THEN ${arr(langIdPools(l).map(w => s"'$w'").mkString(", "))}"
    }.mkString(" ") + " END"

  /** Train/test split: every fifth doc is held out. */
  private val langIdTestPred = "doc_id % 5 = 3"

  /** The `mm_vorbis_floor` replay chain (fixture derivations →
    * render_point predictions → room-saturated final_Y), ends in
    * `f4` (doc_id, u, y0, y1, x2..x4, v2..v4, fy2..fy4) — shared by
    * the final_Y oracle and the synthesized-curve oracle. */
  private lazy val vorbisFloorOracleCte: String =
    """d0 AS (SELECT doc_id,
        |    4 + doc_id % 13 AS u,
        |    (doc_id * 7) % 128 AS y0,
        |    (doc_id * 11) % 128 AS y1,
        |    1 + doc_id % 20 AS x2,
        |    22 + doc_id % 20 AS x3,
        |    43 + doc_id % 20 AS x4
        |  FROM documents),
        |d1 AS (SELECT *,
        |    (doc_id * 3) % u AS v2,
        |    (doc_id * 3 + 7) % u AS v3,
        |    (doc_id * 3 + 14) % u AS v4
        |  FROM d0),
        |p2t AS (SELECT *,
        |    CASE WHEN y1 < y0
        |      THEN y0 - (abs(y1 - y0) * x2) // 64
        |      ELSE y0 + (abs(y1 - y0) * x2) // 64 END AS p2
        |  FROM d1),
        |f2 AS (SELECT *,
        |    CASE WHEN v2 = 0 THEN p2
        |      WHEN v2 >= 2 * LEAST(128 - p2, p2) THEN
        |        CASE WHEN 128 - p2 > p2 THEN v2 - p2 + p2
        |             ELSE p2 - v2 + (128 - p2) - 1 END
        |      WHEN v2 % 2 = 1 THEN p2 - (v2 + 1) // 2
        |      ELSE p2 + v2 // 2 END AS fy2
        |  FROM p2t),
        |p3t AS (SELECT *,
        |    CASE WHEN y1 < fy2
        |      THEN fy2 - (abs(y1 - fy2) * (x3 - x2)) // (64 - x2)
        |      ELSE fy2 + (abs(y1 - fy2) * (x3 - x2)) // (64 - x2)
        |      END AS p3
        |  FROM f2),
        |f3 AS (SELECT *,
        |    CASE WHEN v3 = 0 THEN p3
        |      WHEN v3 >= 2 * LEAST(128 - p3, p3) THEN
        |        CASE WHEN 128 - p3 > p3 THEN v3 - p3 + p3
        |             ELSE p3 - v3 + (128 - p3) - 1 END
        |      WHEN v3 % 2 = 1 THEN p3 - (v3 + 1) // 2
        |      ELSE p3 + v3 // 2 END AS fy3
        |  FROM p3t),
        |p4t AS (SELECT *,
        |    CASE WHEN y1 < fy3
        |      THEN fy3 - (abs(y1 - fy3) * (x4 - x3)) // (64 - x3)
        |      ELSE fy3 + (abs(y1 - fy3) * (x4 - x3)) // (64 - x3)
        |      END AS p4
        |  FROM f3),
        |f4 AS (SELECT *,
        |    CASE WHEN v4 = 0 THEN p4
        |      WHEN v4 >= 2 * LEAST(128 - p4, p4) THEN
        |        CASE WHEN 128 - p4 > p4 THEN v4 - p4 + p4
        |             ELSE p4 - v4 + (128 - p4) - 1 END
        |      WHEN v4 % 2 = 1 THEN p4 - (v4 + 1) // 2
        |      ELSE p4 + v4 // 2 END AS fy4
        |  FROM p4t)""".stripMargin

  /** The unrolled hard-EM oracle for `llm_unigram_vocab`: per round
    * r, a recursive enumeration of every segmentation against
    * v{r−1}, the canonical (k asc, fsum desc, lkey asc) pick, token
    * masses, the reweighted table w{r}, the (mass asc, gram asc)
    * LIMIT-[[unigramPruneK]] drop list d{r}, and v{r} = w{r} minus
    * d{r}. */
  private lazy val unigramVocabOracle: String = {
    val rounds = (1 to unigramEmRounds).map { r =>
      val p = r - 1
      s"""seg$r AS MATERIALIZED (
         |  WITH RECURSIVE paths(w, pos, k, fsum, toks, lkey) AS (
         |    SELECT w, 1, 0, CAST(0 AS BIGINT), '', '' FROM wc
         |    UNION ALL
         |    SELECT s.w, CAST(s.pos + length(v.g) AS INT), s.k + 1,
         |      s.fsum + v.n, s.toks || chr(1) || v.g,
         |      CAST(4 - length(v.g) AS VARCHAR) || s.lkey
         |    FROM paths s JOIN v$p v
         |      ON v.g = substring(s.w, s.pos, length(v.g))
         |    WHERE s.pos <= length(s.w))
         |  SELECT w, k, fsum, toks, lkey FROM paths
         |  WHERE pos = length(w) + 1),
         |best$r AS MATERIALIZED (SELECT w, toks FROM (
         |    SELECT w, toks, row_number() OVER (PARTITION BY w
         |      ORDER BY k ASC, fsum DESC, lkey ASC) AS rn FROM seg$r)
         |  WHERE rn = 1),
         |m$r AS MATERIALIZED (SELECT token,
         |    CAST(SUM(wc.c) AS BIGINT) AS n
         |  FROM (SELECT b.w, unnest(string_split(substr(b.toks, 2),
         |      chr(1))) AS token FROM best$r b) t
         |  JOIN wc ON t.w = wc.w GROUP BY 1),
         |w$r AS MATERIALIZED (SELECT v.g,
         |    CAST(COALESCE(m$r.n, 0) AS BIGINT) AS n
         |  FROM v$p v LEFT JOIN m$r ON m$r.token = v.g),
         |d$r AS MATERIALIZED (SELECT g, n FROM w$r
         |  WHERE length(g) >= 2 ORDER BY n ASC, g ASC
         |  LIMIT $unigramPruneK),
         |v$r AS MATERIALIZED (SELECT g, n FROM w$r
         |  WHERE g NOT IN (SELECT g FROM d$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS (SELECT
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
       |      AS w FROM documents),
       |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words
       |  WHERE w != '' GROUP BY 1),
       |glen AS (SELECT w, c, unnest([1, 2, 3, 4]) AS l FROM wc),
       |gpos AS (SELECT w, c, l,
       |    unnest(range(1, CAST(length(w) - l + 2 AS BIGINT))) AS p
       |  FROM glen WHERE length(w) >= l),
       |gcnt AS (SELECT substring(w, CAST(p AS INT), CAST(l AS INT))
       |    AS g, CAST(SUM(c) AS BIGINT) AS n FROM gpos GROUP BY 1),
       |topg AS (SELECT g, n FROM gcnt WHERE length(g) >= 2
       |  ORDER BY n DESC, g ASC LIMIT 48),
       |v0 AS (SELECT g, n FROM topg
       |  UNION ALL SELECT g, n FROM gcnt WHERE length(g) = 1),
       |$rounds
       |${(1 to unigramEmRounds).map(r =>
           s"SELECT CAST($r AS INT) AS round, g AS dropped, " +
             s"CAST(n AS BIGINT) AS n_at_drop FROM d$r")
           .mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** The DuckDB replica of [[langIdFixture]] — ends in `g`
    * (doc_id, lang_true, grams). */
  private lazy val langIdOracleFixtureCte: String =
    s"""fx AS (SELECT doc_id,
       |    $langIdLangExpr AS lang_true,
       |    list_transform(range(0, 10), j ->
       |      (${langIdPoolExpr(ws => s"[$ws]")})[
       |        CAST((doc_id // 4 + 7 * j) % 12 AS INT) + 1]) AS words
       |  FROM documents),
       |g AS (SELECT doc_id, lang_true,
       |    flatten(list_transform(words, w ->
       |      list_transform(range(1, length(w) + 2), p ->
       |        substr(' ' || w || ' ', CAST(p AS INT), 2)))) AS grams
       |  FROM fx)""".stripMargin

  /** The fixture with its per-doc char-bigram list (occurrences,
    * space-padded per word): (doc_id, lang_true, grams). */
  private def langIdFixture(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("lang_true", expr(langIdLangExpr))
      .withColumn("words", expr(
        s"""transform(sequence(0, 9), j -> element_at(
           |  ${langIdPoolExpr(ws => s"array($ws)")},
           |  CAST((doc_id div 4 + 7 * j) % 12 AS INT) + 1))""".stripMargin))
      .withColumn("grams", expr(
        """flatten(transform(words, w ->
          |  transform(sequence(1, length(w) + 1), p ->
          |    substring(concat(' ', w, ' '), p, 2))))""".stripMargin))
      .select(col("doc_id"), col("lang_true"), col("grams"))

  /** The stored NB counts artifact: (lang, gram, cnt) over the
    * TRAINING split — written once per snapshot, read back from
    * parquet by every scorer (the [[qualityEnsemblePath]] seam). */
  private[graft] def langIdCountsPath(s: SparkSession, d: String): String =
    SnapshotMemo.stored(s, d, "langid-counts") { path =>
      langIdFixture(s, d).filter(!expr(langIdTestPred))
        .select(col("lang_true").as("lang"),
          explode(col("grams")).as("gram"))
        .groupBy(col("lang"), col("gram"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(path)
    }

  /** The trained artifact surfaced (`llm_langid_train`): the full
    * per-language gram counts — vocabulary-sized (≤ ~70 grams ×
    * 4 languages), the table every scorer broadcasts. */
  def langIdTrain(s: SparkSession, d: String): DataFrame =
    s.read.parquet(langIdCountsPath(s, d))
      .select(col("lang"), col("gram"), col("cnt"))

  /** The NB scoring core over ANY (doc_id, [passthrough…], gram)
    * occurrence table against a stored counts artifact: per doc the
    * argmax language (lang-ascending tie-break) and the winning
    * integer score. Shared by the held-out gate and the streaming
    * classification twin — one definition of the weights, the
    * unseen-gram floor, and the argmax. Scale shape: counts/totals
    * are vocabulary-sized and broadcast; the corpus side is two
    * doc-keyed partial aggregates (the struct-min argmax — never a
    * per-doc window). */
  private[graft] def langIdScoreOf(grams: DataFrame,
      counts: DataFrame, passthrough: Seq[String]): DataFrame = {
    val totals = counts.groupBy(col("lang")).agg(sum(col("cnt")).as("tot"))
    val vocab = counts.select(col("gram")).distinct()
      .agg(count(lit(1)).as("v"))
    val weights = counts
      .join(broadcast(totals), Seq("lang"))
      .crossJoin(broadcast(vocab))
      .select(col("lang").as("cand"), col("gram"),
        (length(expr("bin(cnt + 1)")) - 1 -
          (length(expr("bin(tot + v)")) - 1)).cast("bigint").as("w"))
    // the unseen-gram penalty is per-language: −flog2(tot+V)
    val floors = totals.crossJoin(broadcast(vocab))
      .select(col("lang").as("cand"),
        (lit(0L) - (length(expr("bin(tot + v)")) - 1).cast("bigint"))
          .as("w0"))
    val keys = col("doc_id") +: passthrough.map(col)
    grams.crossJoin(broadcast(floors))
      .join(broadcast(weights), Seq("cand", "gram"), "left")
      .select((keys :+ col("cand") :+
        coalesce(col("w"), col("w0")).as("w")): _*)
      .groupBy((keys :+ col("cand")): _*)
      .agg(sum(col("w")).as("score"))
      .groupBy(keys: _*)
      .agg(min(struct((lit(0L) - col("score")).as("ns"),
        col("cand"))).as("win"))
      .select((keys :+ col("win.cand").as("pred") :+
        (lit(0L) - col("win.ns")).as("win_score")): _*)
  }

  /** The fixture gram extraction applied to REAL text: words by the
    * shared tokenizer, each space-padded and bigram-exploded —
    * the streaming gate's front half. */
  private[graft] def langIdGramsOf(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"), tokenExpr.as("w"))
      .select(col("doc_id"), explode(expr(
        """flatten(transform(filter(w, x -> x != ''), t ->
          |  transform(sequence(1, length(t) + 1), p ->
          |    substring(concat(' ', t, ' '), p, 2))))""".stripMargin))
        .as("gram"))

  /** Held-out scoring (`llm_langid_score`): every test doc scored
    * against all four languages from the STORED counts, argmax with
    * lang-ascending tie-break, confusion rollup (true × predicted)
    * with the exact integer margin sum; the rollup exchange is 16
    * keys. */
  def langIdScore(s: SparkSession, d: String): DataFrame = {
    val counts = s.read.parquet(langIdCountsPath(s, d))
    val test = langIdFixture(s, d).filter(expr(langIdTestPred))
      .select(col("doc_id"), col("lang_true"),
        explode(col("grams")).as("gram"))
    langIdScoreOf(test, counts, Seq("lang_true"))
      .groupBy(col("lang_true"), col("pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("win_score")).as("margin_sum"))
  }

  /** REAL COMPRESSED-FLAC decode (`mm_flac_fixed`) — the first
    * entropy-free CODED audio class the engine decodes end to end:
    * complete FLAC streams whose frames carry FIXED-predictor
    * subframes (orders 0–4, cycling per doc) with genuine
    * Rice-coded residuals, built by a real encoder
    * (`flac_fixed_fixture` — bit writer, predictor
    * residuals, zigzag + unary/binary Rice emission) and decoded
    * back by `flac_pcm_levels`' frame walk
    * (quotient/remainder reads, zigzag, §9.2.2 recurrence
    * reconstruction). The oracle replays the expected SAMPLES in
    * closed form from doc_id — the [[warcGz]] round-trip
    * discipline: any encoder/decoder disagreement about the
    * bitstream surfaces as a meter hash-mismatch, and the decoder
    * is independently pinned on hand-assembled Rice vectors in
    * FlacPcmSpec. Map-side construct → decode → partial agg; one
    * bounded exchange on the ≤ 8-key (rate, channels) space. */
  def flacFixed(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.flacFixedFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.flacPcmLevels(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_values")).as("sum_values"),
        sum(col("m.sum_sq")).as("sum_sq"),
        max(col("m.peak").cast("bigint")).as("max_peak"),
        sum(col("m.n_clipped")).as("sum_clipped"))

  /** REAL LPC-FLAC decode (`mm_flac_lpc`) — the rung that makes the
    * FLAC lane decode production files (virtually all real-world
    * FLAC frames are LPC-coded): complete streams whose frames
    * carry §9.2.4 LPC subframes — quantized signed coefficients at
    * per-doc precision (5–7 bits), per-doc shift (2–5), orders 1–4
    * cycling, BOTH Rice methods — built by inverting the quantized
    * predictor (`flac_lpc_fixture`) and decoded
    * back through `flac_pcm_levels`' coefficient
    * walk + all-integer recurrence. The oracle replays the expected
    * SAMPLES in closed form from doc_id (the [[flacFixed]]
    * discipline), so any disagreement about coefficient sign
    * extension, shift arithmetic, or the recurrence order lands as
    * a meter hash-mismatch; the decoder is independently pinned on
    * hand-assembled LPC codewords in FlacLpcSpec. Map-side
    * construct → decode → partial agg; one bounded exchange on the
    * ≤ 8-key (rate, channels) space. */
  def flacLpc(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.flacLpcFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.flacPcmLevels(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_values")).as("sum_values"),
        sum(col("m.sum_sq")).as("sum_sq"),
        max(col("m.peak").cast("bigint")).as("max_peak"),
        sum(col("m.n_clipped")).as("sum_clipped"))

  /** STEREO-DECORRELATED FLAC decode (`mm_flac_stereo`) — the mode
    * virtually every real stereo FLAC file uses (encoders pick
    * left/side / side/right / mid/side per frame because the side
    * channel compresses better than either raw channel): fixture
    * streams whose one frame carries §9.1.3 decorrelated subframe
    * pairs — the side channel one bit WIDER, mid recovering its
    * dropped LSB from side's parity — FIXED-coded and cycled
    * through all three assignments by doc_id, decoded back through
    * `flac_pcm_levels`' channel reconstruction.
    * The oracle replays the LEFT/RIGHT meter in closed form from
    * doc_id (the [[flacFixed]] discipline): the decorrelation
    * shapes only the bits, never the expected samples, so a decoder
    * that mis-widths the side subframe, swaps the assignment roles,
    * or drops the parity bit hash-mismatches. Map-side construct →
    * decode → partial agg; one bounded exchange on the ≤ 4-key
    * rate space. */
  def flacStereo(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.flacStereoFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.flacPcmLevels(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_values")).as("sum_values"),
        sum(col("m.sum_sq")).as("sum_sq"),
        max(col("m.peak").cast("bigint")).as("max_peak"),
        sum(col("m.n_clipped")).as("sum_clipped"))

  /** WASTED-BITS FLAC decode (`mm_flac_wasted`) — §9.2.1's encoder
    * trick for sources with constant trailing zero bits (14-bit
    * masters shipped as 16-bit): every fixture sample is a base
    * value left-shifted by k = 1–3, each subframe coding the base
    * at width 16 − k behind a wasted-bits header (flag + unary k),
    * decoded back through `flac_pcm_levels` — the
    * subframe decodes at the reduced width, the predictor
    * recurrence runs in the SHIFTED-DOWN domain, and the left shift
    * restores actual samples only after reconstruction. The oracle
    * replays the shifted meter in closed form from doc_id; a
    * decoder that ignores the flag, mis-reads the unary count, or
    * shifts before the recurrence hash-mismatches. Map-side
    * construct → decode → partial agg; one bounded exchange on the
    * ≤ 8-key (rate, channels) space. */
  def flacWasted(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.flacWastedFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.flacPcmLevels(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_values")).as("sum_values"),
        sum(col("m.sum_sq")).as("sum_sq"),
        max(col("m.peak").cast("bigint")).as("max_peak"),
        sum(col("m.n_clipped")).as("sum_clipped"))

  /** REAL Vorbis ENTROPY decode (`mm_vorbis_books`) — the first
    * table-driven entropy slice of the lossy-codec family, honest
    * because Vorbis ships its Huffman codebooks IN the stream
    * (§4.2.4 setup header) and defines codeword assignment
    * algorithmically (§3.2.1), so no memorized constant tables are
    * needed: per-document three-page Ogg streams (real lacing, real
    * page CRCs) whose setup packet carries 1–3 codebooks cycling
    * all three header paths (unordered dense / unordered sparse /
    * ordered run-length) and whose symbol packet the engine must
    * decode bit-by-bit through the canonical trees it builds from
    * the parsed lengths (`vorbis_books` over
    * `vorbis_fixture`). The oracle replays the
    * decoded symbol census in closed form from doc_id — the
    * [[flacFixed]] discipline: the length multisets shape only the
    * BITS, never the symbols, so any bitpacker/assignment/walk
    * disagreement hash-mismatches — and the assignment algorithm is
    * independently pinned on the spec's own §3.2.1 worked example
    * plus hand-packed header bytes in VorbisSpec. Map-side
    * construct → decode → partial agg; one bounded exchange on the
    * 3-key book-count space. */
  def vorbisBooks(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.vorbisFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.vorbisBooks(col("payload")))
      .groupBy(col("m.n_books").cast("bigint").as("n_books"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_entries")).as("sum_entries"),
        sum(col("m.n_used")).as("sum_used"),
        sum(col("m.sum_dims")).as("sum_dims"),
        sum(col("m.n_syms")).as("sum_syms"),
        sum(col("m.sym_sum")).as("sum_sym"),
        sum(col("m.sym_wsum")).as("sum_wsym"))

  /** Vorbis VQ-lookup parse (`mm_vorbis_vq`) — the completion of
    * the §3.2 codebook surface: the same Ogg-framed fixture books,
    * now carrying §3.2.2 lookup sections cycling all three types
    * (0 = scalar-only, 1 = implicit lattice with lookup1_values
    * multiplicands, 2 = explicit entries×dims table), the
    * packed-float min/delta read raw and the full integer
    * multiplicand arrays walked bit-exactly
    * (`vorbis_vq` over
    * `vorbis_vq_fixture`). The oracle replays the
    * lookup census — type counts, lookup1_values (re-derived by
    * exact integer power search), multiplicand count and SUM — in
    * closed form, plus the decoded symbol sum proving the scalar
    * walk still crosses VQ books. Same bounded-exchange shape as
    * [[vorbisBooks]]. */
  def vorbisVq(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.vorbisVqFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.vorbisVq(col("payload")))
      .groupBy(col("m.n_books").cast("bigint").as("n_books"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_lookup1")).as("sum_l1"),
        sum(col("m.n_lookup2")).as("sum_l2"),
        sum(col("m.mul_count")).as("sum_mul_count"),
        sum(col("m.mul_sum")).as("sum_mul"),
        sum(col("m.n_seq")).as("sum_seq"),
        sum(col("m.sym_sum")).as("sum_sym"))

  /** Vorbis floor1 decode (`mm_vorbis_floor`) — the curve-control
    * layer above the codebooks: §4.2.4's floor1 CONFIG walk
    * (partition classes, dimensions, subclass books, multiplier,
    * rangebits, X positions), §7.2.3's posts decode (raw Y0/Y1 plus
    * book-coded posts through a real parsed codebook), and §7.2.4's
    * amplitude synthesis — low/high neighbor search, render_point's
    * integer line predictor, the room-saturated residual merge — to
    * the final_Y vector, all exact integer arithmetic
    * (`vorbis_floor` over
    * `vorbis_floor_fixture`). The oracle UNROLLS
    * the synthesis for the fixture's static-neighbor post shape
    * (three X bands) while the engine searches neighbors
    * generically — a wrong neighbor, a rounding slip in the
    * predictor, or a mis-saturated residual lands as a different
    * final_Y. Only the dB-domain rendering beyond final_Y stays
    * with the synthesis fake. Map-side construct → decode →
    * project; no shuffle. */
  def vorbisFloor(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.vorbisFloorFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.vorbisFloor(col("payload")))
      .select(col("doc_id"),
        col("m.n_values").cast("bigint").as("n_values"),
        col("m.y_sum").as("y_sum"),
        col("m.y_wsum").as("y_wsum"),
        col("m.n_step2").as("n_step2"))

  /** Synthesized integer floor curve (`mm_vorbis_floor_curve`) —
    * the floor walk continued through §7.2.3 step 2: the X-sorted
    * step2-flagged posts scaled by the multiplier and rasterized by
    * the render_line integer Bresenham over n = blocksize0/2 bins,
    * the past-last-post tail held flat
    * (`vorbis_floor_curve` over the same fixture as
    * [[vorbisFloor]]). One more honest rung off the declared
    * synthesis fake: only the dB → linear float lookup and MDCT
    * remain. The oracle replays the curve POSITIONALLY — per bin,
    * the containing segment's render_point value (render_line's
    * error accumulation is exactly the floored line) — so a wrong
    * segment endpoint, a flag slip, or a division rounding error
    * lands as a curve-sum mismatch. Map-side; no shuffle. */
  def vorbisFloorCurve(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.vorbisFloorFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.vorbisFloorCurve(col("payload")))
      .select(col("doc_id"),
        col("m.n_bins").cast("bigint").as("n_bins"),
        col("m.curve_sum").as("curve_sum"),
        col("m.curve_wsum").as("curve_wsum"),
        col("m.curve_max").as("curve_max"))

  /** Vorbis residue classification (`mm_vorbis_residue`) — the
    * third decode layer: §8.6.1's config walk (begin/end, partition
    * size, classification count, classbook, per-class cascade
    * bitmaps with their book slots) and §8.6.2's CLASSIFICATION
    * cascade — classwords decoded through the classbook and
    * unpacked last-slot-first by integer divmod into per-partition
    * classes, ragged tails dropped (`vorbis_residue`
    * over `vorbis_residue_fixture`). The fixture's
    * cascades are EMPTY (a conformant silent residue), which is
    * exactly the declared boundary: classification is integer and
    * proven here; cascade value passes are VQ float lookups and
    * stay with the synthesis fake. The oracle replays the class
    * vector closed-form (divmod by exact integer powers), so a
    * wrong unpack order or a mis-sized group diverges. Map-side;
    * no shuffle. */
  def vorbisResidue(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.vorbisResidueFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.vorbisResidue(col("payload")))
      .select(col("doc_id"),
        col("m.n_partitions").cast("bigint").as("n_partitions"),
        col("m.n_classwords").as("n_classwords"),
        col("m.class_sum").as("class_sum"),
        col("m.class_wsum").as("class_wsum"))

  /** Vorbis residue VALUE-pass application
    * (`mm_vorbis_residue_apply`) — the last integer step of the
    * residue chain above [[vorbisResidue]]'s classification layer:
    * the REAL §8.6.2 interleaved walk (classword per group, then
    * that group's partitions' value vectors through the cascade
    * books) with each decoded entry's VQ MULTIPLICANDS accumulated
    * into the type-1 sequential partition slots — so only the float
    * mapping (minimum + delta scaling, dB floor, MDCT) remains with
    * the synthesis fake. Value books are parsed from the stream
    * (lookup types 1 and 2, `sequence_p` 0 — the running-sum form
    * is float-domain and fails closed), silent classes prove the
    * walk skips without consuming bits, and the positional
    * `res_wsum` pins slot PLACEMENT, not just totals. The oracle
    * replays the accumulation closed-form from doc_id. Map-side
    * construct → decode → project; no shuffle. */
  def vorbisResidueApply(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.vorbisResidueApplyFixture(col("doc_id")))
      .withColumn("m",
        NativeFunctions.vorbisResidueApply(col("payload")))
      .select(col("doc_id"),
        col("m.n_slots").as("n_slots"),
        col("m.n_values").as("n_values"),
        col("m.res_sum").as("res_sum"),
        col("m.res_wsum").as("res_wsum"),
        col("m.n_nonzero").as("n_nonzero"))

  /** Vorbis residue value MAPPING in the integer domain
    * (`mm_vorbis_residue_scale`) — the step above
    * [[vorbisResidueApply]]'s raw-multiplicand accumulation: each
    * decoded element becomes §3.2.2's `minimum + delta ·
    * multiplicand`, with minimum/delta unpacked from the books'
    * packed floats through the INTEGER-EXACT gate
    * ([[graft.multimodal.Vorbis.float32UnpackExact]]: mantissa ·
    * 2^(exp−788), exp ≥ 788 — fractional books fail closed with
    * the dB/MDCT synthesis fake), and the positional census weight
    * is the ABSOLUTE spectrum offset, so §8.6's begin/end placement
    * arithmetic is pinned too. The oracle replays the scaled
    * accumulation closed-form from doc_id. Map-side
    * construct → decode → project; no shuffle. */
  def vorbisResidueScale(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.vorbisResidueScaleFixture(col("doc_id")))
      .withColumn("m",
        NativeFunctions.vorbisResidueScale(col("payload")))
      .select(col("doc_id"),
        col("m.n_slots").as("n_slots"),
        col("m.n_values").as("n_values"),
        col("m.sc_sum").as("sc_sum"),
        col("m.sc_wsum").as("sc_wsum"),
        col("m.n_nonzero").as("n_nonzero"))

  /** MP4 sample tables (`mm_mp4_samples`) — the walk real frame
    * COUNTS come from, which the metadata-only box parse
    * deliberately skips: first track's `mdia/minf/stbl` chain, the
    * §8.5.3 stsz sample-size box in BOTH layouts (uniform
    * sample_size with no per-sample table — the form a naive parser
    * reads as empty — and the per-sample u32 table), and §8.7.5
    * stco's chunk count (`mp4_samples` over
    * `mp4_sample_fixture`). The oracle replays the
    * census closed-form; a walk that misses a nesting level,
    * mis-handles the uniform layout, or lets a table overrun its
    * box diverges. Map-side construct → decode → project; no
    * shuffle. */
  def mp4Samples(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.mp4SampleFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.mp4Samples(col("payload")))
      .select(col("doc_id"),
        col("m.n_samples").as("n_samples"),
        col("m.sum_sizes").as("sum_sizes"),
        col("m.max_size").as("max_size"),
        col("m.n_chunks").as("n_chunks"))

  /** URL canonicalization (`llm_url_canon`) — the RFC 3986
    * syntax-based normalization URL-level dedup and crawl-frontier
    * maintenance hash by: case normalization, percent-encoding
    * normalization (unreserved octets decoded, hex uppercased),
    * §5.2.4 remove_dot_segments, default-port elision, empty-path →
    * "/", fragment removal — as the native
    * [[graft.functions.UrlCanon]] codegen expression (pinned on the
    * RFC's own §5.2.4 examples in UrlCanonSpec) over six messy URL
    * classes built per document. The oracle states the expected
    * canonical string per class in closed form — it never runs the
    * algorithm, so an engine slip in any normalization step lands
    * as a string mismatch. Map-side; no shuffle. */
  def urlCanon(s: SparkSession, d: String): DataFrame = {
    val raw = expr("""CASE CAST(doc_id % 6 AS INT)
      | WHEN 0 THEN concat('https://WWW.', upper(source),
      |   '.COM:443/a/b/../doc-', doc_id, '#sec')
      | WHEN 1 THEN concat('HTTP://', source,
      |   '.example.com:80/./x/%7edoc/', doc_id)
      | WHEN 2 THEN concat('https://', source, '.example.com')
      | WHEN 3 THEN concat('https://', source,
      |   '.example.com/a//b/./c/..')
      | WHEN 4 THEN concat('https://', source,
      |   '.example.com/p%2fq/%41')
      | ELSE concat('https://', source,
      |   '.example.com/s?b=2&a=1#x') END""".stripMargin)
    docs(s, d).select(col("doc_id"), raw.as("url"))
      .select(col("doc_id"),
        NativeFunctions.urlCanon(col("url")).as("canon_url"))
  }

  /** Zstandard frame layer (`mm_zstd_frames`) — the modern
    * compression container every new crawl dump ships in: magic
    * dispatch including SKIPPABLE frames, the frame-header
    * descriptor (single-segment, content-size widths,
    * reserved-bit rejection), window-descriptor size arithmetic,
    * 3-byte LE block headers, and REAL regeneration of the two
    * entropy-free block classes (Raw, RLE) with the declared
    * content size enforced against what the blocks actually
    * regenerate (`zstd_frames` over
    * `zstd_fixture`); since round 15 the same
    * walk also decodes Compressed blocks end to end
    * ([[graft.llm.ZstdFse]] — `llm_zstd_fse`/`_real`/`_dict`), so
    * this query's raw/RLE fixtures exercise the container grammar
    * specifically. The oracle replays the
    * frame/content census closed-form, including the decoded-byte
    * SUM, so a walk that skips instead of regenerating diverges.
    * Map-side; no shuffle. */
  def zstdFrames(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload", NativeFunctions.zstdFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.zstdFrames(col("payload")))
      .select(col("doc_id"),
        col("m.n_frames").as("n_frames"),
        col("m.n_skippable").as("n_skippable"),
        col("m.content_len").as("content_len"),
        col("m.content_sum").as("content_sum"),
        col("m.window_sum").as("window_sum"))

  /** From-scratch DEFLATE decode (`llm_inflate`) — the engine's own
    * RFC 1951/1950 implementation ([[graft.llm.Inflate]]: canonical
    * Huffman construction, the dynamic code-length meta-code, LZ77
    * back-copies, Adler-32) run against streams produced by the
    * *JDK's* Deflater at levels cycling 0–9 per document — so every
    * block type (stored / fixed / dynamic) crosses the decoder, and
    * the two implementations are independent (the decoder is
    * additionally pinned on hand-assembled bitstreams in
    * InflateSpec). The oracle knows nothing about DEFLATE: it
    * computes the byte length and md5 of the ORIGINAL text, so any
    * decode error — a wrong back-copy, a mis-built tree, a dropped
    * byte — lands as a digest mismatch. Map-side construct → decode
    * → project; no shuffle at all, the per-object transform shape
    * of a 100 TB recompression pass. */
  def inflateRoundtrip(s: SparkSession, d: String): DataFrame =
    inflateOf(docs(s, d))

  /** From-scratch Zstandard FSE decode (`llm_zstd_fse`) — the
    * engine's own RFC 8878 compressed-block layer
    * ([[graft.llm.ZstdFse]]: FSE table construction from normalized
    * counts, the table-description codec, the backward sequence
    * bitstream, repeat offsets, overlapping match execution) run
    * against frames produced by the engine's own greedy-LZ encoder,
    * alternating per document between the RFC's PREDEFINED
    * distributions and explicitly-transmitted per-block tables — so
    * both table sources cross the gate through the engine's own
    * encoder. The decoder is independently pinned by
    * [[zstdRealRoundtrip]] (zstd-jni streams, levels 1–19),
    * hand-assembled byte streams and the hand-computed spread
    * example (ZstdFseSpec). The oracle knows nothing about zstd:
    * byte length + md5 of the ORIGINAL text, so any table,
    * bitstream or sequence slip lands as a digest mismatch.
    * Map-side construct → decode → project; no shuffle — the
    * 100 TB recompression-pass shape. */
  def zstdFseRoundtrip(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("raw"))
      .withColumn("z", NativeFunctions.zstdFseCompress(col("raw"),
        expr("CAST(doc_id % 2 AS INT)")))
      .withColumn("u", NativeFunctions.zstdFseDecompress(col("z")))
      .select(col("doc_id"),
        length(col("u")).cast("bigint").as("n_bytes"),
        md5(col("u")).as("digest"))

  /** REAL-zstd decode (`llm_zstd_real`) — the independent-codec pin
    * for the whole from-scratch Zstandard walk: every document
    * compressed by zstd-jni (the reference implementation, level
    * cycling 1–19 per doc so raw/RLE/HUFFMAN literals — single- and
    * four-stream — predefined and explicitly-transmitted FSE
    * tables, treeless and Repeat modes, and repeat offsets all
    * cross the gate) and decoded back by the engine's own RFC 8878
    * implementation ([[graft.llm.Zstd.walk]] +
    * [[graft.llm.ZstdFse]]). The exact `llm_inflate`/JDK
    * discipline: two independent implementations, and the oracle
    * knows nothing about zstd — original byte length + md5, so any
    * table, bitstream, Huffman or sequence slip lands as a digest
    * mismatch. Map-side; no shuffle. */
  def zstdRealRoundtrip(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("raw"))
      .withColumn("z", NativeFunctions.zstdJniCompress(col("raw"),
        expr("CAST(1 + doc_id % 19 AS INT)")))
      .withColumn("u", NativeFunctions.zstdFseDecompress(col("z")))
      .select(col("doc_id"),
        length(col("u")).cast("bigint").as("n_bytes"),
        md5(col("u")).as("digest"))

  /** The trained zstd dictionary for snapshot `d` — the stored
    * artifact a real small-document corpus compresses against
    * (dictionaries are THE zstd deployment mode for KB-scale
    * records: parquet pages, row groups, KV values). Trained ONCE
    * per snapshot by zstd-jni's zdict on a deterministic bounded
    * sample (first 128 docs by id — a driver-side read like the
    * BPE vocabulary collects), persisted, read back by every
    * consumer. */
  private[llm] def zstdDictPath(s: SparkSession, d: String): String =
    SnapshotMemo.stored(s, d, "zstd-dict") { path =>
      val spark = s
      import spark.implicits._
      val samples = docs(s, d).orderBy(col("doc_id")).limit(128)
        .select(col("text")).as[String].collect()
        .map(_.getBytes("UTF-8"))
      val buf = new Array[Byte](16 * 1024)
      val n = com.github.luben.zstd.Zstd
        .trainFromBuffer(samples, buf, false)
      require(!com.github.luben.zstd.Zstd.isError(n),
        s"zstd dictionary training failed: $n")
      Seq(java.util.Arrays.copyOf(buf, n.toInt)).toDF("dict")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }

  /** Dictionary-zstd decode (`llm_zstd_dict`) — the §5 layer every
    * small-record deployment runs: a zstd-jni-TRAINED dictionary
    * (stored artifact), every document compressed AGAINST it by the
    * reference implementation (levels cycling 1–19), decoded back
    * by the engine's own walk with the dictionary threaded through
    * — entropy tables preloaded for Repeat/Treeless first blocks,
    * repeat offsets initialized, matches reaching into the dict
    * content, Dictionary_ID verified. The oracle stays
    * zstd-ignorant: original byte length + md5. Scale shape: the
    * ≤16 KiB dictionary rides one broadcast join; the corpus side
    * is the map-side construct → decode → project pass. */
  def zstdDictRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dict = broadcast(s.read.parquet(zstdDictPath(s, d)))
    docs(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("raw"))
      .crossJoin(dict)
      .withColumn("z", NativeFunctions.zstdJniDictCompress(col("raw"),
        col("dict"), expr("CAST(1 + doc_id % 19 AS INT)")))
      .withColumn("u",
        NativeFunctions.zstdFseDictDecompress(col("z"), col("dict")))
      .select(col("doc_id"),
        length(col("u")).cast("bigint").as("n_bytes"),
        md5(col("u")).as("digest"))
  }

  /** Splittable multi-frame ingest (`llm_zstd_split`) — how a
    * 100 TB `.zst` dump actually parallelizes: frames are
    * independent decode units, so a reader discovers frame
    * boundaries HEADER-ONLY (blocks skipped by their declared
    * sizes, no entropy work — [[graft.llm.ZstdFse.frameBoundaries]])
    * and hands each frame to its own task. The query proves the
    * split points land exactly on decodable units: every document
    * becomes a three-frame stream with a skippable frame spliced in
    * ([[graft.functions.ZstdMultiFrame]], alternating table modes),
    * each frame decodes INDEPENDENTLY and the in-order reassembly
    * must reproduce the original digest
    * ([[graft.functions.ZstdSplitDecode]]). The oracle stays
    * zstd-ignorant. Map-side; no shuffle. */
  def zstdSplitRoundtrip(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("raw"))
      .withColumn("z", NativeFunctions.zstdMultiFrame(col("raw"),
        expr("CAST(doc_id % 14 AS INT)")))
      .withColumn("u", NativeFunctions.zstdSplitDecode(col("z")))
      .select(col("doc_id"),
        length(col("u")).cast("bigint").as("n_bytes"),
        md5(col("u")).as("digest"))

  /** [[inflateRoundtrip]] over an arbitrary documents frame —
    * row-local, so the streaming twin is the same plan. */
  def inflateOf(src: DataFrame): DataFrame =
    src
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("raw"))
      .withColumn("z", NativeFunctions.deflateZlib(col("raw"),
        expr("CAST(doc_id % 10 AS INT)")))
      .withColumn("u", NativeFunctions.inflateZlib(col("z")))
      .select(col("doc_id"),
        length(col("u")).cast("bigint").as("n_bytes"),
        md5(col("u")).as("digest"))

  /** Block-level HTML boilerplate removal (`llm_html_blocks`) — the
    * jusText/trafilatura-style gate every web-corpus pipeline runs
    * between WARC extraction and dedup: pages split into BLOCKS at
    * closing block-tag boundaries, each block scored by text length
    * and LINK DENSITY (characters inside anchors vs characters
    * total — navigation/footer chrome is link-dense, content is
    * not), and only long low-link-density blocks kept. Pages are
    * deterministic per-document HTML (nav + content + related-links
    * + footer chrome built around `text`), the grammar shared
    * string-for-string with the oracle, so the gate arithmetic is
    * exact-checkable. All composed from codegen'd built-ins
    * (`split`/`posexplode`/`regexp_extract_all` — no UDFs); map-side
    * construct → explode → gate → one partial-agg exchange on
    * doc_id. The explode grain (blocks per page) is constant, so
    * the shape is linear in corpus size at any scale. */
  def htmlBlocks(s: SparkSession, d: String): DataFrame =
    htmlBlocksOf(docs(s, d))

  /** [[htmlBlocks]] over an arbitrary documents frame — one page
    * per row, so the per-doc aggregation is row-local and the
    * streaming twin (per micro-batch under foreachBatch) is
    * bit-equal to batch regardless of the shard split. */
  def htmlBlocksOf(src: DataFrame): DataFrame = {
    val page = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title></head><body><div><a href=\"/\">Home</a> " +
        "<a href=\"/about\">About us</a></div><p>"),
      col("text"),
      lit("</p><div><a href=\"/rel\">"), substring(col("text"), 1, 24),
      lit("</a></div><p>tiny</p><div><a href=\"/tos\">Terms</a> " +
        "<a href=\"/priv\">Privacy</a> (c) 2026 Site</div>" +
        "</body></html>"))
    src.select(col("doc_id"), page.as("html"))
      .select(col("doc_id"),
        explode(split(col("html"), "</p>|</div>")).as("block"))
      .withColumn("tlen",
        length(regexp_replace(col("block"), htmlTagRe, "")))
      .withColumn("llen", length(concat_ws("",
        regexp_extract_all(col("block"),
          lit("<a [^>]*>([^<]*)</a>"), lit(1)))))
      .withColumn("kept",
        col("tlen") >= 25 && col("llen") * 2 < col("tlen"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("tlen")).otherwise(0L))
          .as("kept_chars"),
        sum(col("llen").cast("bigint")).as("link_chars"))
  }

  /** Unicode NFC canonicalization (`llm_text_normalize`) — the
    * canonical-composition pass every dedup/tokenization pipeline
    * needs first, because visually identical strings with different
    * codepoint sequences ("é" precomposed vs "e" + U+0301) must
    * hash identically: a corpus cycling pure-ASCII rows (the NFC
    * identity fast-path), decomposed combining sequences, and
    * precomposed rows is normalized by the native
    * [[graft.functions.NfcNormalize]] codegen expression (Spark has
    * no normalization built-in), then measured by codepoint count
    * and digest. The oracle runs DuckDB's own `nfc_normalize` — a
    * fully independent implementation of the same Unicode standard
    * form — so the comparison is cross-library, not a replay.
    * Map-side; no shuffle. */
  def textNormalize(s: SparkSession, d: String): DataFrame =
    textNormalizeOf(docs(s, d))

  /** [[textNormalize]] over an arbitrary documents frame \u2014
    * row-local, stream-safe as-is. */
  def textNormalizeOf(src: DataFrame): DataFrame = {
    // case 1 is DECOMPOSED (e + U+0301, o + U+0308), case 2
    // precomposed - NFC maps case 1 onto case-2 codepoint form
    val raw = when(col("doc_id") % 3 === 0, col("text"))
      .when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(" cafe\u0301 no\u0308el")))
      .otherwise(concat(col("text"), lit(" caf\u00e9 d\u00e9j\u00e0")))
    src.select(col("doc_id"), raw.as("raw"))
      .withColumn("nfc", NativeFunctions.nfcNormalize(col("raw")))
      .select(col("doc_id"),
        length(col("raw")).cast("bigint").as("n_chars_raw"),
        length(col("nfc")).cast("bigint").as("n_chars_nfc"),
        md5(encode(col("nfc"), "UTF-8")).as("digest"))
  }

  /** The shared robots.txt fixture + line-wise RFC 9309 parse for
    * [[robotsGate]] / [[robotsRules]]: per-domain robots.txt built
    * deterministically (a two-agent crawler group with prefix
    * Allow/Disallow rules — one rule present only on even-length
    * domains — and a catch-all `*` group that disallows
    * everything), then parsed GENERALLY: lines split and trimmed,
    * fields matched case-insensitively, groups formed by the RFC's
    * adjacency rule (consecutive `User-agent` lines STACK onto one
    * group; a `User-agent` line after rules starts a new group) via
    * a per-domain line-number window — domains are the partition
    * key, so the window never sees more than one robots file. */
  private def robotsParsed(src: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val domains = src.select(col("source")).distinct()
      .withColumn("robots", concat(
        lit("# robots fixture\n"),
        lit("User-agent: graftbot\nUser-agent: graftbot-image\n" +
          "Disallow: /private/\nAllow: /private/public-\n" +
          "Disallow: /search\n"),
        when(length(col("source")) % 2 === 0,
          lit("Disallow: /draft-\n")).otherwise(lit("")),
        lit("\nUser-agent: *\nDisallow: /\n")))
    val lines = domains
      .select(col("source"), posexplode(split(col("robots"), "\n")))
      .withColumnRenamed("pos", "ln")
      .withColumn("line", trim(col("col")))
      .withColumn("field",
        lower(regexp_extract(col("line"), "^([A-Za-z-]+)\\s*:", 1)))
      .withColumn("value",
        trim(regexp_extract(col("line"), "^[A-Za-z-]+\\s*:\\s*(.*)$", 1)))
    val w = Window.partitionBy("source").orderBy("ln")
    val grouped = lines
      .withColumn("isUa", col("field") === "user-agent")
      .withColumn("prevUa",
        coalesce(lag(col("isUa"), 1).over(w), lit(false)))
      .withColumn("grp", sum(when(col("isUa") && !col("prevUa"), 1)
        .otherwise(0)).over(w))
    val agents = grouped.filter(col("isUa"))
      .select(col("source"), col("grp"), lower(col("value")).as("agent"))
    val rules = grouped
      .filter(col("field").isin("allow", "disallow") &&
        length(col("value")) > 0)
      .select(col("source"), col("grp"),
        (col("field") === "allow").as("al"), col("value").as("prefix"))
    (domains, agents, rules)
  }

  /** The per-document URL paths the gate evaluates — six classes
    * cycling allow/deny/longest-match-override/conditional cases. */
  private[graft] def docPathsOf(src: DataFrame): DataFrame =
    src.select(col("doc_id"), col("source"),
      expr("""CASE CAST(doc_id % 6 AS INT)
        | WHEN 0 THEN '/'
        | WHEN 1 THEN '/about'
        | WHEN 2 THEN concat('/private/doc-', doc_id)
        | WHEN 3 THEN concat('/private/public-', doc_id)
        | WHEN 4 THEN concat('/search?q=', doc_id)
        | ELSE concat('/draft-', doc_id) END""".stripMargin).as("path"))

  /** robots.txt evaluation (`llm_robots`) — the fetch-permission
    * gate a crawl-derived corpus applies before ingesting a URL
    * (RFC 9309): per-domain robots.txt is PARSED generally
    * ([[robotsParsed]]: line-wise fields, stacked user-agent
    * groups), the applicable group chosen per the RFC (the
    * crawler's own product token if any group names it, else `*`),
    * and each document URL judged by LONGEST-PREFIX-MATCH with
    * allow winning ties — §2.2.2's most-specific rule. The oracle
    * replays the VERDICTS in closed form from doc_id and the domain
    * parity (the flacFixed discipline): the robots text shapes only
    * what the engine must parse — an engine that mis-groups stacked
    * agents, picks the `*` group, or breaks the tie toward disallow
    * lands on different verdicts. Scale shape: group selection and
    * rules are DOMAIN-scale (tiny, broadcast); the corpus-scale
    * side is one broadcast hash join plus a map-side
    * array_max-over-transform fold over the ≤4-element rule set —
    * no corpus exchange at all (a groupBy(doc_id) spelling would
    * shuffle the whole corpus; the per-domain rule ARRAY is what
    * keeps the verdict map-side at 100 TB). */
  def robotsGate(s: SparkSession, d: String): DataFrame =
    robotsGateOf(docPathsOf(docs(s, d)), robotsRuleArr(s, d))

  /** The domain-scale half of [[robotsGate]]: parse → group
    * selection → one rule ARRAY per domain (broadcastable; this is
    * the slow-changing dimension a streaming gate re-reads per
    * micro-batch). */
  private[graft] def robotsRuleArr(s: SparkSession, d: String): DataFrame =
    robotsRuleArrOf(docs(s, d))

  private[graft] def robotsRuleArrOf(src: DataFrame): DataFrame = {
    val (_, agents, rules) = robotsParsed(src)
    val gb = agents.filter(col("agent") === "graftbot")
      .select(col("source"), col("grp")).withColumn("pri", lit(0))
    val star = agents.filter(col("agent") === "*")
      .select(col("source"), col("grp")).withColumn("pri", lit(1))
    val cand = gb.unionByName(star)
    val minPri = cand.groupBy("source").agg(min(col("pri")).as("mp"))
    val sel = cand.join(minPri, "source")
      .filter(col("pri") === col("mp")).select("source", "grp")
    rules.join(sel, Seq("source", "grp"))
      .groupBy("source")
      .agg(collect_list(struct(col("prefix"), col("al"))).as("rules"))
  }

  /** The corpus-scale half of [[robotsGate]]: verdicts for a
    * (doc_id, source, path) frame against the broadcast rule
    * arrays — row-local given the dimension, so the streaming twin
    * is the same plan per micro-batch. */
  private[graft] def robotsGateOf(paths: DataFrame,
      ruleArr: DataFrame): DataFrame = {
    paths
      .join(broadcast(ruleArr), Seq("source"))
      .withColumn("win", expr(
        """array_max(transform(rules, r -> named_struct(
          |  'mlen', CASE WHEN startswith(path, r.prefix)
          |    THEN CAST(length(r.prefix) AS INT) ELSE 0 END,
          |  'al', CAST(r.al AS INT))))""".stripMargin))
      .select(col("doc_id"),
        (col("win.mlen") === 0 || col("win.al") === 1).as("allowed"),
        col("win.mlen").cast("bigint").as("match_len"))
  }

  /** robots.txt parse census (`llm_robots_rules`) — the PARSE half
    * checked directly: per domain, how many groups, how many
    * stacked agents, and how many rules the crawler's group vs the
    * catch-all carries. The oracle knows the fixture grammar's
    * closed-form counts (the conditional rule flips with domain
    * parity); an engine that splits stacked user-agent lines into
    * separate groups or misassigns rules to the wrong group lands
    * on different counts. Domain-scale throughout. */
  def robotsRules(s: SparkSession, d: String): DataFrame = {
    val (_, agents, rules) = robotsParsed(docs(s, d))
    val g = agents.groupBy("source")
      .agg(countDistinct(col("grp")).as("n_groups"),
        count(lit(1)).as("n_agents"))
    val gbRules = rules.join(
      agents.filter(col("agent") === "graftbot")
        .select("source", "grp").distinct(), Seq("source", "grp"))
      .groupBy("source").agg(count(lit(1)).as("n_rules_crawler"))
    val starRules = rules.join(
      agents.filter(col("agent") === "*")
        .select("source", "grp").distinct(), Seq("source", "grp"))
      .groupBy("source").agg(count(lit(1)).as("n_rules_star"))
    g.join(gbRules, Seq("source")).join(starRules, Seq("source"))
      .select(col("source"), col("n_groups"), col("n_agents"),
        col("n_rules_crawler"), col("n_rules_star"))
  }

  /** PII regexes shared by the engine and (verbatim, backslashes
    * unprocessed by DuckDB regular strings) the oracle — simple
    * enough to mean the same thing in Java regex and RE2: no
    * lookaround, leftmost greedy matching in both. */
  private[llm] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[llm] val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  private[llm] val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII detection + redaction metering — the scrub pass a
    * training-data pipeline runs before anything ships: per-language
    * counts of email / phone / IPv4 matches, documents containing
    * any PII, and the exact total character count of the corpus
    * AFTER redaction (each match replaced by a `<TYPE>` placeholder)
    * — the integer the pipeline uses to bound token-budget drift
    * from scrubbing. The fixture corpus has no organic PII, so both
    * engines INJECT it identically first (deterministic contact /
    * phone / host suffixes on doc_id % 7 / 11 / 13) — the extraction
    * is then oracle-replayed over the same augmented text, so a
    * regex-dialect divergence (Java vs RE2) or a redaction-order bug
    * hash-mismatches. All map-side (codegen regexp over the scan);
    * ONE exchange on the 4-key lang space. At 100 TB: identical
    * shape — regex scans parallelize per-row; the redacted corpus
    * itself would be written columnar next to the original, never
    * collected. */
  /** URL regex shared verbatim by engine (Java) and oracle (RE2) —
    * scheme + host + optional path, no lookaround. */
  private[llm] val urlRe = "https?://[A-Za-z0-9.-]+(/[^\\s]*)?"
  private[llm] val urlHostRe = "https?://([A-Za-z0-9.-]+)"

  /** Link extraction + domain rollup (`llm_url_stats`) — the signal
    * behind link-graph quality features and domain-level filtering
    * (a crawl curation pass scores documents by where they link):
    * URLs planted deterministically into the corpus (the [[piiScrub]]
    * augmentation discipline), extracted with the shared
    * RE2-compatible pattern, reduced to hosts, and rolled up per
    * domain with document reach. One map-side extract-explode, one
    * combine-collapsed exchange on the (small) domain key space. */
  def urlStats(s: SparkSession, d: String): DataFrame = {
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0, concat(lit(" see https://site"),
        (col("doc_id") % 7).cast("string"),
        lit(".example.com/page/"), col("doc_id").cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, concat(lit(" via http://cdn"),
        (col("doc_id") % 4).cast("string"),
        lit(".example.org"))).otherwise(lit("")))
    docs(s, d).select(col("doc_id"), aug.as("t"))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("t"), lit(urlRe), lit(0)))
          .as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), urlHostRe, 1).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))
  }

  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val aug = concat(col("text"),
      when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, concat(lit(" call +1-555-"),
        (lit(1000) + col("doc_id") % 9000).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0, concat(lit(" host 10."),
        (col("doc_id") % 256).cast("string"), lit(".0.1")))
        .otherwise(lit("")))
    val redacted = regexp_replace(regexp_replace(regexp_replace(
      col("t"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>"),
      ipRe, "<IP>")
    docs(s, d).select(col("doc_id"), col("lang"), aug.as("t"))
      .select(col("lang"),
        size(regexp_extract_all(col("t"), lit(emailRe), lit(0)))
          .cast("bigint").as("n_em"),
        size(regexp_extract_all(col("t"), lit(phoneRe), lit(0)))
          .cast("bigint").as("n_ph"),
        size(regexp_extract_all(col("t"), lit(ipRe), lit(0)))
          .cast("bigint").as("n_ip"),
        length(redacted).cast("bigint").as("red_len"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_em")).as("n_emails"),
        sum(col("n_ph")).as("n_phones"),
        sum(col("n_ip")).as("n_ips"),
        sum(when(col("n_em") + col("n_ph") + col("n_ip") > 0, 1L)
          .otherwise(0L)).as("n_docs_pii"),
        sum(col("red_len")).as("redacted_chars"))
  }

  /** REAL sample-PAYLOAD decode for the codec-free modality —
    * narrows the multimodal stub to compressed payloads only: build
    * complete PCM WAV FILES (header + an actual little-endian 16-bit
    * sample payload, deterministic full-range signal from doc_id —
    * [[graft.multimodal.AudioHex.SampleExpr]]), then decode the raw
    * samples with the native `audio_levels` codegen
    * expression — per-file energy (exact integer sum of squares),
    * peak |s|, and digital-full-scale clip count, the audio-QA pass
    * a training pipeline runs before transcription. The oracle
    * rebuilds the SAME bytes through a real DuckDB BLOB and replays
    * the s16le walk positionally over the blob's hex — a decoder
    * that byte-swaps, drops the sign reinterpretation, or counts
    * frames instead of values hash-mismatches. All outputs integer
    * (RMS = sqrt(sum_sq/n) is derived at the edge), per the
    * oracle-exactness rule. Map-side construct → decode → partial
    * agg; one bounded exchange on the ~10-key (rate, channels)
    * space. */
  /** 8-BIT and 24-BIT PCM metering (`mm_audio_widths`) — the other
    * two integer widths real WAV corpora actually carry (8-bit
    * voice/legacy, 24-bit studio masters), through the same
    * `audio_levels` expression as the 16-bit lane:
    * 8-bit is UNSIGNED with a 128 bias (the WAV spec's one
    * asymmetry — a decoder that sign-extends it inverts half the
    * signal), 24-bit is signed little-endian with rails at ±2²³.
    * Even docs build full-range 8-bit payloads, odd docs 24-bit;
    * the oracle replays the expected samples in CLOSED FORM from
    * the generator formulas, so a bias, byte-order, or rail error
    * on either side hash-mismatches. Map-side construct → decode →
    * project; no shuffle. */
  def audioWidths(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    val u8e = "((doc_id * 131 + i * 241) % 256)"
    val u24e = "((doc_id * 7919 + i * 104729) % 16777216)"
    docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(8000, 22050, 44100, 48000), " +
          "CAST(doc_id % 4 AS INT) + 1)").as("rate0"),
        expr("CAST((doc_id div 2) % 2 AS INT) + 1").as("ch0"))
      .withColumn("nv0",
        expr("ch0 * (CAST(doc_id % 40 AS INT) + 5)"))
      .withColumn("hs", expr(
        s"""CASE WHEN doc_id % 2 = 0
           |  THEN concat(${AudioHex.wavHexBits("rate0", "ch0",
                "nv0", 1, "div")},
           |    ${AudioHex.pcmPayloadNHexSpark("nv0", u8e, 1)})
           |  ELSE concat(${AudioHex.wavHexBits("rate0", "ch0",
                "nv0 * 3", 3, "div")},
           |    ${AudioHex.pcmPayloadNHexSpark("nv0", u24e, 3)})
           |END""".stripMargin))
      .withColumn("payload", unhex(col("hs")))
      .withColumn("m", NativeFunctions.audioLevels(col("payload")))
      .select(col("doc_id"),
        expr("CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 24 END")
          .cast("bigint").as("width"),
        col("m.channels").cast("bigint").as("channels"),
        col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.n_values").as("n_values"),
        col("m.sum_sq").as("sum_sq"),
        col("m.peak").cast("bigint").as("peak"),
        col("m.n_clipped").as("n_clipped"))
  }

  def audioLevels(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    val payload = docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(8000, 16000, 22050, 44100, 48000), " +
          "CAST(doc_id % 5 AS INT) + 1)").as("rate0"),
        expr("CAST(doc_id % 2 AS INT) + 1").as("ch0"),
        // whole frames: values = frames × channels
        expr("(doc_id % 24 + 4) * (CAST(doc_id % 2 AS INT) + 1)")
          .as("nv0"))
      .withColumn("db0", expr("nv0 * 2"))
      .withColumn("hs", expr(
        s"concat(${AudioHex.wavHex("rate0", "ch0", "db0", "div")}, " +
          s"${AudioHex.pcmPayloadHexSpark("nv0", AudioHex.SampleExpr)})"))
      .withColumn("payload", unhex(col("hs")))
    payload
      .withColumn("m", NativeFunctions.audioLevels(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_values")).as("sum_values"),
        sum(col("m.sum_sq")).as("sum_sq"),
        max(col("m.peak").cast("bigint")).as("max_peak"),
        sum(col("m.n_clipped")).as("sum_clipped"))
  }

  /** REAL COMPANDED-payload decode (`mm_audio_ulaw`) — the first
    * lossy audio codec the engine expands rather than stubs: build
    * complete G.711 µ-law WAV files (format-tag-7 header + an actual
    * one-byte-per-value code payload spanning the full code range,
    * [[graft.multimodal.AudioHex.UlawCodeExpr]]), expand each code
    * through the ITU segment/mantissa arithmetic with the native
    * `audio_ulaw_levels` codegen expression, and
    * meter the EXPANDED samples — exact integer energy, peak |s|,
    * and digital-rail count (|s| = 32124, the codec's full scale).
    * The oracle rebuilds the same bytes through a DuckDB BLOB and
    * replays the expansion FORMULA positionally over the hex
    * (complement → segment shift → bias strip, pure int SQL) — a
    * decoder that mis-complements, drops the bias, or shifts the
    * wrong field hash-mismatches on the energy sum. Same plan shape
    * as [[audioLevels]]: map-side construct → decode → partial agg;
    * one bounded exchange on the ~10-key (rate, channels) space. At
    * 100 TB the fixture construction is replaced by a binary-column
    * scan and the shape is unchanged. */
  def audioUlawLevels(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    val payload = docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(8000, 16000, 22050, 44100, 48000), " +
          "CAST(doc_id % 5 AS INT) + 1)").as("rate0"),
        expr("CAST(doc_id % 2 AS INT) + 1").as("ch0"),
        // whole frames: values = frames × channels, one byte each
        expr("(doc_id % 24 + 4) * (CAST(doc_id % 2 AS INT) + 1)")
          .as("nv0"))
      .withColumn("hs", expr(
        s"concat(${AudioHex.wavHexUlaw("rate0", "ch0", "nv0", "div")}, " +
          s"${AudioHex.ulawPayloadHexSpark("nv0", AudioHex.UlawCodeExpr)})"))
      .withColumn("payload", unhex(col("hs")))
    payload
      .withColumn("m", NativeFunctions.audioUlawLevels(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_values")).as("sum_values"),
        sum(col("m.sum_sq")).as("sum_sq"),
        max(col("m.peak").cast("bigint")).as("max_peak"),
        sum(col("m.n_fullscale")).as("sum_fullscale"))
  }

  /** [[audioUlawLevels]]' A-law twin (`mm_audio_alaw`) — WAVE format
    * tag 6 through `audio_alaw_levels`: the European
    * G.711 half, whose expansion is a genuinely different arithmetic
    * (XOR-0x55 alternate-bit inversion, bias-free linear segment 0,
    * no zero code — quietest samples are ±8 — and the inverted sign
    * convention). Same fixture/oracle discipline: the oracle replays
    * the expansion formula positionally in pure int SQL over the
    * same bytes; same map-side construct → decode → partial-agg plan
    * with one bounded exchange. */
  def audioAlawLevels(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    val payload = docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(8000, 16000, 22050, 44100, 48000), " +
          "CAST(doc_id % 5 AS INT) + 1)").as("rate0"),
        expr("CAST(doc_id % 2 AS INT) + 1").as("ch0"),
        expr("(doc_id % 24 + 4) * (CAST(doc_id % 2 AS INT) + 1)")
          .as("nv0"))
      .withColumn("hs", expr(
        s"concat(${AudioHex.wavHexAlaw("rate0", "ch0", "nv0", "div")}, " +
          s"${AudioHex.ulawPayloadHexSpark("nv0", AudioHex.AlawCodeExpr)})"))
      .withColumn("payload", unhex(col("hs")))
    payload
      .withColumn("m", NativeFunctions.audioAlawLevels(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_values")).as("sum_values"),
        sum(col("m.sum_sq")).as("sum_sq"),
        max(col("m.peak").cast("bigint")).as("max_peak"),
        sum(col("m.n_fullscale")).as("sum_fullscale"))
  }

  /** REAL sample-derived audio fingerprints (`mm_audio_fp`) — the
    * audio lane's sibling of [[dhashFingerprints]], closing the
    * stand-in-feature-vector gap for audio: frame-energy delta-sign
    * bits over decoded PCM ([[graft.multimodal.AudioHeaders
    * .fingerprint]], the Haitsma–Kalker time-axis shape), packed
    * ≤32-bit non-negative so downstream Hamming matching is the
    * same `bit_count(xor)` + banding discipline as the image lane.
    * The oracle replays every sample positionally out of the built
    * hex, re-frames, re-energizes, and re-packs — a fingerprinter
    * that mis-frames, drops the sign reinterpretation, or packs
    * big-endian hash-mismatches. Pure map-side: construct → decode →
    * fingerprint in one codegen stage. */
  def audioFingerprints(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.AudioHex
    docs(s, d)
      .select(col("doc_id"),
        expr("element_at(array(8000, 16000, 22050, 44100, 48000), " +
          "CAST(doc_id % 5 AS INT) + 1)").as("rate0"),
        // 2..37 complete mono frames — covers the <32-bit and the
        // saturated-pack (>33 frames) regimes
        expr("4 * (doc_id % 36 + 2)").as("nv0"))
      .withColumn("hs", expr(
        s"concat(${AudioHex.wavHex("rate0", "1", "nv0 * 2", "div")}, " +
          s"${AudioHex.pcmPayloadHexSpark("nv0", AudioHex.SampleExpr)})"))
      .withColumn("payload", unhex(col("hs")))
      .withColumn("m", NativeFunctions.audioFp(col("payload")))
      .select(col("doc_id"), col("m.sample_rate").as("sample_rate"),
        col("m.n_frames").as("n_frames"), col("m.fp").as("fp"))
  }

  /** Audio near-dup by banded Hamming search — [[imageNearDup]]'s
    * audio sibling, completing the perceptual-dedup symmetry: the
    * ≤32-bit delta-sign fingerprints band into 4×8 bits; candidates
    * share a band WITHIN their frame-count class (fingerprints of
    * different lengths are not comparable — the standard rule), and
    * the exact `bit_count(xor)` verify keeps pairs at Hamming ≤ 3.
    * Pigeonhole-EXACT as in the image lane: ≤3 differing bits over
    * 4 bands forces one identical band, so the banded output equals
    * the oracle's all-pairs truth. Join key (n_frames, band_i,
    * band_v): one bucket-keyed shuffle, never all-pairs. */
  /** The fingerprint frame, memoized per snapshot (the dHash-frame
    * discipline): construct→decode→pack once, every consumer — the
    * fp row, both near-dup legs — reads the artifact. */
  private def audioFpFrame(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"audio-fp-frame:$d")(
      Fixpoint.ser(audioFingerprints(s, d)
        .select(col("doc_id"), col("n_frames"), col("fp"))))

  def audioNearDup(s: SparkSession, d: String): DataFrame = {
    val fp = audioFpFrame(s, d)
    val bands = fp.select(col("doc_id"), col("n_frames"), col("fp"),
      explode(expr("transform(sequence(0, 3), b -> struct(" +
        "CAST(b AS BIGINT) AS band_i, " +
        "CAST(shiftright(fp, b * 8) & 255 AS BIGINT) AS band_v))"))
        .as("x"))
      .select(col("doc_id"), col("n_frames"),
        col("fp"), col("x.band_i"), col("x.band_v"))
    val l = bands.select(col("n_frames"), col("band_i"), col("band_v"),
      col("doc_id").as("a_id"), col("fp").as("a_fp"))
    val r = bands.select(col("n_frames"), col("band_i"), col("band_v"),
      col("doc_id").as("b_id"), col("fp").as("b_fp"))
    // Two capped-heap disciplines, both found by the sixth-session
    // sf1 rehearsal on THIS query:
    //  - EXPLICIT sort-merge (the SA-internal-join rule): both sides
    //    are the corpus-scale band table derived from a checkpointed
    //    artifact whose lost stats otherwise let the planner
    //    BROADCAST it (bhj=2 in the census at 10× = a corpus-scale
    //    broadcast);
    //  - the pair dedup is a MAP-SIDE first-shared-band filter, not
    //    a distinct: a pair colliding in k bands is kept only at its
    //    SMALLEST shared band (decidable from the two fingerprints
    //    alone), so the multi-band duplicates never reach an
    //    exchange and no pair-scale hash aggregate exists to OOM.
    l.hint("merge").join(r, Seq("n_frames", "band_i", "band_v"))
      .filter(col("a_id") < col("b_id"))
      .filter(expr("band_i = 0 OR forall(sequence(0L, band_i - 1), " +
        "j -> (shiftright(a_fp, CAST(j * 8 AS INT)) & 255) != " +
        "(shiftright(b_fp, CAST(j * 8 AS INT)) & 255))"))
      .withColumn("hamming",
        expr("CAST(bit_count(a_fp ^ b_fp) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** INCREMENTAL audio near-dup — the audio lane's rung on the
    * incremental axis, the [[imageNeardupIncremental]] discipline
    * verbatim: the base corpus's (frame-class, band) index is a
    * memoized stored artifact; the ARRIVING shard (the standard
    * `doc_id % 10 = 7` split) is fingerprinted, band-exploded, and
    * BROADCAST against the index scan — batch-proportional probe
    * cost, no corpus-side shuffle, same exact Hamming ≤ 3 verify. */
  def audioNeardupIncremental(s: SparkSession, d: String): DataFrame = {
    def bandsOf(fp: DataFrame): DataFrame = fp
      .select(col("doc_id"), col("n_frames"), col("fp"),
        explode(expr("transform(sequence(0, 3), b -> struct(" +
          "CAST(b AS BIGINT) AS band_i, " +
          "CAST(shiftright(fp, b * 8) & 255 AS BIGINT) AS band_v))"))
          .as("x"))
      .select(col("doc_id"), col("n_frames"), col("fp"),
        col("x.band_i"), col("x.band_v"))
    val fp = audioFpFrame(s, d)
    val baseBands = SnapshotMemo.getOrCompute(s, s"audio-fp-index:$d") {
      Fixpoint.ser(bandsOf(fp.filter(!expr(arrivingShardPred))))
    }
    val arriving = bandsOf(fp.filter(expr(arrivingShardPred)))
      .select(col("n_frames"), col("band_i"), col("band_v"),
        col("doc_id").as("new_id"), col("fp").as("a_fp"))
    baseBands
      .select(col("n_frames"), col("band_i"), col("band_v"),
        col("doc_id").as("dup_of"), col("fp").as("b_fp"))
      .join(broadcast(arriving), Seq("n_frames", "band_i", "band_v"))
      .select(col("new_id"), col("dup_of"), col("a_fp"), col("b_fp"))
      .distinct()
      .withColumn("hamming",
        expr("CAST(bit_count(a_fp ^ b_fp) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("new_id"), col("dup_of"), col("hamming"))
  }

  /** REAL pixel-PAYLOAD decode for the codec-free image format —
    * [[audioLevels]]' image sibling, narrowing the multimodal stub
    * to entropy-coded payloads only: build complete 24-bit BI_RGB
    * BMP FILES (real 54-byte header + raw BGR rows with 4-byte row
    * padding, deterministic per-pixel bytes from (doc_id, x, y, c)),
    * decode with the native `image_levels` codegen
    * expression — per-file exact integer channel sums, the
    * brightness/color-cast QA pass of a vision-data pipeline — and
    * roll up per width. The oracle rebuilds the SAME bytes through a
    * DuckDB BLOB and replays the pixel walk POSITIONALLY (row
    * stride + padding arithmetic over the blob's hex), so a decoder
    * that forgets row padding, reads RGB instead of BGR, or
    * mis-walks the header hash-mismatches. */
  def imageLevels(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    val pixel = "(doc_id * 7 + x * 13 + y * 31 + c * 101) % 256"
    val payload = docs(s, d)
      .select(col("doc_id"),
        expr("CAST(doc_id % 8 AS INT) + 1").as("w0"),
        expr("CAST(doc_id % 5 AS INT) + 1").as("h0"))
      .withColumn("hs", expr(ImageHex.bmpHex("w0", "h0", pixel, "div",
        ImageHex.seqJoinSpark)))
      .withColumn("payload", unhex(col("hs")))
    payload
      .withColumn("m", NativeFunctions.imageLevels(col("payload")))
      .groupBy(col("m.width").cast("bigint").as("width"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("m.n_px")).as("sum_px"),
        sum(col("m.sum_r")).as("sum_r"),
        sum(col("m.sum_g")).as("sum_g"),
        sum(col("m.sum_b")).as("sum_b"),
        max(col("m.height").cast("bigint")).as("max_h"))
  }

  /** REAL compressed-image pixel decode — closes the PNG third of
    * the multimodal payload story (BMP and WAV went real in round 8;
    * PNG needs no external codec: IDAT is zlib and
    * `java.util.zip.Inflater` is public JDK). Build complete PNG
    * files whose DEFLATE stream is a stored-mode block
    * ([[graft.multimodal.ImageHex.pngFileHex]] — the one DEFLATE
    * shape SQL can construct), decode with the native
    * `png_levels` codegen expression (full
    * container walk → Inflater → §9 un-filtering → exact channel
    * sums), roll up per width. The oracle rebuilds the SAME bytes in
    * DuckDB and replays the pixel walk BYTE-POSITIONALLY over the
    * stored block's raw scanlines — it never inflates, so the two
    * sides share no decode machinery; an engine decoder that
    * mis-walks chunks, mis-inflates, or mis-orders R,G,B
    * hash-mismatches. Real-encoder fidelity (dynamic Huffman,
    * filters 1–4, multi-IDAT, valid CRCs) is PngLevelsSpec's ImageIO
    * round-trip. Map-side construct → decode → partial agg; one
    * bounded exchange on the small width space. */
  def pngLevels(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    val pixel = "(doc_id * 11 + x * 17 + y * 29 + c * 97) % 256"
    val payload = docs(s, d)
      .select(col("doc_id"),
        expr("CAST(doc_id % 6 AS INT) + 1").as("w0"),
        expr("CAST(doc_id % 4 AS INT) + 1").as("h0"))
      .withColumn("hs", expr(ImageHex.pngFileHex("w0", "h0", pixel,
        "div", ImageHex.seqJoinSpark)))
      .withColumn("payload", unhex(col("hs")))
    payload
      .withColumn("m", NativeFunctions.pngLevels(col("payload")))
      .groupBy(col("m.width").cast("bigint").as("width"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("m.n_px")).as("sum_px"),
        sum(col("m.sum_r")).as("sum_r"),
        sum(col("m.sum_g")).as("sum_g"),
        sum(col("m.sum_b")).as("sum_b"),
        max(col("m.height").cast("bigint")).as("max_h"))
  }

  /** GRAYSCALE sibling of [[pngLevels]] — exercises the decoder's
    * color-type-0 path (bpp 1, the gray sample summed into all three
    * channels) with the same stored-mode DEFLATE fixture discipline:
    * the oracle replays the gray byte positionally from the stored
    * block and mirrors the gray→(r,g,b) convention in SQL, so a
    * decoder that mis-derives the 1-byte stride, mis-walks the
    * shorter scanlines, or sums gray into only one channel
    * hash-mismatches. Real-encoder fidelity for type 0 (and palette
    * / gray+alpha / RGBA) is PngLevelsSpec's per-type ImageIO
    * round-trips. Same plan shape as [[pngLevels]]: map-side
    * construct → decode → partial agg, one bounded exchange. */
  def pngGrayLevels(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    val pixel = "(doc_id * 7 + x * 31 + y * 13) % 256"
    val payload = docs(s, d)
      .select(col("doc_id"),
        expr("CAST(doc_id % 5 AS INT) + 1").as("w0"),
        expr("CAST(doc_id % 3 AS INT) + 1").as("h0"))
      .withColumn("hs", expr(ImageHex.pngGrayFileHex("w0", "h0", pixel,
        "div", ImageHex.seqJoinSpark)))
      .withColumn("payload", unhex(col("hs")))
    payload
      .withColumn("m", NativeFunctions.pngLevels(col("payload")))
      .groupBy(col("m.width").cast("bigint").as("width"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("m.n_px")).as("sum_px"),
        sum(col("m.sum_r")).as("sum_r"),
        sum(col("m.sum_g")).as("sum_g"),
        sum(col("m.sum_b")).as("sum_b"),
        max(col("m.height").cast("bigint")).as("max_h"))
  }

  /** 16-BIT TRUECOLOR sibling of [[pngLevels]] — exercises the
    * decoder's depth-16 lane (big-endian byte-pair samples, 6-byte
    * left-neighbor filter distance, full 0–65535 sums) with the same
    * stored-mode DEFLATE fixture discipline: the oracle replays each
    * sample as two positional byte reads (hi·256+lo) from the stored
    * block and never inflates. Same plan shape: map-side construct →
    * decode → partial agg, one bounded exchange. */
  def png16Levels(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    val sample = "(doc_id * 131 + x * 257 + y * 769 + c * 4099) % 65536"
    docs(s, d)
      .select(col("doc_id"),
        expr("CAST(doc_id % 4 AS INT) + 1").as("w0"),
        expr("CAST(doc_id % 3 AS INT) + 1").as("h0"))
      .withColumn("hs", expr(ImageHex.pngFile16Hex("w0", "h0", sample,
        "div", ImageHex.seqJoinSpark)))
      .withColumn("payload", unhex(col("hs")))
      .withColumn("m", NativeFunctions.pngLevels(col("payload")))
      .groupBy(col("m.width").cast("bigint").as("width"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("m.n_px")).as("sum_px"),
        sum(col("m.sum_r")).as("sum_r"),
        sum(col("m.sum_g")).as("sum_g"),
        sum(col("m.sum_b")).as("sum_b"),
        max(col("m.height").cast("bigint")).as("max_h"))
  }

  /** ADAM7-INTERLACED sibling of [[pngGrayLevels]] — exercises the
    * decoder's interlace lane: seven sub-image passes decoded with
    * independent filter contexts, sums accumulated across passes.
    * The fixture is the FIXED 8×8 grayscale Adam7 layout
    * ([[graft.multimodal.ImageHex.pngAdam7GrayHex]]) whose 15
    * scanlines sit at static offsets, so the oracle's positional
    * replay is a pure offset walk over the 64 data bytes
    * ([[graft.multimodal.ImageHex.adam7DataOffset]]). Pixel values
    * are indexed by STREAM position (levels are position-free). */
  def pngAdam7Levels(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    docs(s, d)
      .select(col("doc_id"))
      .withColumn("hs", expr(ImageHex.pngAdam7GrayHex(
        j => s"(doc_id * 7 + ($j) * 37) % 256",
        "div", ImageHex.seqJoinSpark)))
      .withColumn("payload", unhex(col("hs")))
      .withColumn("m", NativeFunctions.pngLevels(col("payload")))
      .groupBy(col("m.width").cast("bigint").as("width"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("m.n_px")).as("sum_px"),
        sum(col("m.sum_r")).as("sum_r"),
        sum(col("m.sum_g")).as("sum_g"),
        sum(col("m.sum_b")).as("sum_b"),
        max(col("m.height").cast("bigint")).as("max_h"))
  }

  /** The block-bits expression shared by [[jpegLumaLevels]] and its
    * oracle: block `j`'s DC additional-bits byte — alternating-sign
    * category-8 diffs (even j encode +[128..187], odd j −[128..187]
    * as bits = diff+255 ∈ [68..127]), never 0xFF. */
  private def jpegBits(j: String): String =
    s"(CASE WHEN ($j) % 2 = 0 THEN 128 + (doc_id * 13 + ($j) * 7) % 60 " +
      s"ELSE 127 - ((doc_id * 11 + ($j) * 5) % 60) END)"

  /** REAL baseline-JPEG luma decode
    * (`jpeg_luma` / [[graft.multimodal.JpegDecode]])
    * — the lossy-codec lane, previously the one declared stub. The
    * fixture is a BYTE-ALIGNED entropy stream
    * ([[graft.multimodal.ImageHex.jpegGrayFileHex]]): single
    * length-8 Huffman codes, DC-only category-8 blocks, all-8s
    * quant — the one Huffman shape SQL can build and replay
    * positionally, while the engine still decodes it through the
    * real bit-reader/Huffman/IDCT path. DC-only blocks reconstruct
    * exactly (flat clamp(Σdiffs + 128), IDCT-independent), so the
    * oracle reads each block's bits byte out of the built hex and
    * re-derives the flat values arithmetically. Real-encoder
    * fidelity (multi-length codes, AC, 4:2:0, libjpeg IDCT) is
    * JpegDecodeSpec's ImageIO tolerance comparisons. Same plan
    * shape as the PNG fixtures: map-side construct → decode →
    * partial agg, one bounded exchange. */
  def jpegLumaLevels(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    docs(s, d)
      .select(col("doc_id"),
        expr("8 * (CAST(doc_id % 3 AS INT) + 1)").as("w0"),
        expr("8 * (CAST(doc_id % 2 AS INT) + 1)").as("h0"))
      .withColumn("hs", expr(ImageHex.jpegGrayFileHex("w0", "h0",
        jpegBits, "div", ImageHex.seqJoinSpark)))
      .withColumn("payload", unhex(col("hs")))
      .withColumn("m", NativeFunctions.jpegLuma(col("payload")))
      .groupBy(col("m.width").cast("bigint").as("width"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("m.n_px")).as("sum_px"),
        sum(col("m.sum_y")).as("sum_y"),
        max(col("m.height").cast("bigint")).as("max_h"))
  }

  /** The dHash pixel formula, shared by the Spark fixture builder
    * and the oracle replay: a base image per `b0 = doc_id % 12`
    * (dims and gradient derive from the base), a sparse variant
    * perturbation per `v0 = (doc_id div 12) % 4` (~5% of pixels
    * shifted by v0·60), and ONE per-document pixel poke in row 0 —
    * so the attachment corpus contains exact-duplicate images,
    * near-duplicates at small Hamming distance (same base, same or
    * close variant), and far images (different bases) — the
    * three-tier structure a perceptual-dedup lane must separate. */
  private def dhashPixel(docIdMod5: String): String =
    "(b0 * 17 + x * 31 + y * 13 " +
      "+ (CASE WHEN (x * 7 + y * 11) % 19 = 0 THEN v0 * 60 ELSE 0 END) " +
      s"+ (CASE WHEN y = 0 AND x = $docIdMod5 THEN 97 ELSE 0 END)) % 256"

  /** Shared fingerprint frame for the dHash lane: the
    * attachment-bearing subset (doc_id % 23 = 0 — media rows are a
    * sparse sidecar of a text corpus, and the fixture build is the
    * per-row cost cap), PNG-gray fixture construct → REAL decode →
    * `dhash64`, all map-side in one codegen stage
    * next to the scan. MEMOIZED per snapshot: three queries (and
    * both sides of the near-dup self-join) consume it, and a
    * production pipeline computes fingerprints once and stores them
    * next to the media metadata — the artifact IS the operator's
    * output table, a few fixed-width columns per attachment. */
  private def dhashFp(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"dhash-fp:$d") { Fixpoint.ser(dhashFpOf(s, d)) }

  private def dhashFpOf(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.ImageHex
    docs(s, d)
      .filter(expr("doc_id % 23 = 0"))
      .select(col("doc_id"),
        expr("CAST(doc_id % 12 AS INT)").as("b0"),
        expr("CAST((doc_id div 12) % 4 AS INT)").as("v0"))
      .withColumn("w0", expr("12 + b0 % 5"))
      .withColumn("h0", expr("9 + b0 % 4"))
      .withColumn("hs", expr(ImageHex.pngGrayFileHex("w0", "h0",
        dhashPixel("CAST(doc_id % 5 AS INT)"), "div",
        ImageHex.seqJoinSpark)))
      .withColumn("payload", unhex(col("hs")))
      .withColumn("m", NativeFunctions.dhash64(col("payload")))
      .select(col("doc_id"), col("m.width").as("width"),
        col("m.height").as("height"), col("m.dh_hi").as("dh_hi"),
        col("m.dh_lo").as("dh_lo"))
  }

  /** Shared REAL-feature frame for the image similarity lane: the
    * same attachment fixture as [[dhashFp]] pushed through
    * `luma_cells` (decode → 4×4 cell grid, exact
    * integer sums/counts) into BOTH consumable shapes at once — the
    * long-form cell table and the fixed-width 16-dim mean-luma
    * vector with its precomputed self-inner-product. MEMOIZED per
    * snapshot: `mm_image_features` and `mm_feature_knn` read it, and
    * a production pipeline stores exactly this table next to the
    * media metadata (features are extracted once, queried many
    * times). All map-side: construct → decode → cells → vector in
    * one codegen stage next to the scan; zero exchanges. */
  private def imageFeatureFrame(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"image-features:$d") {
      import graft.multimodal.ImageHex
      Fixpoint.ser(docs(s, d)
        .filter(expr("doc_id % 23 = 0"))
        .select(col("doc_id"),
          expr("CAST(doc_id % 12 AS INT)").as("b0"),
          expr("CAST((doc_id div 12) % 4 AS INT)").as("v0"))
        .withColumn("w0", expr("12 + b0 % 5"))
        .withColumn("h0", expr("9 + b0 % 4"))
        .withColumn("hs", expr(ImageHex.pngGrayFileHex("w0", "h0",
          dhashPixel("CAST(doc_id % 5 AS INT)"), "div",
          ImageHex.seqJoinSpark)))
        .withColumn("cells",
          NativeFunctions.lumaCells(unhex(col("hs"))))
        .filter(col("cells").isNotNull)
        .withColumn("fv",
          expr("transform(cells, c -> c.lsum div c.lcnt)"))
        .withColumn("n2", graft.functions.DotProductLong(
          col("fv"), col("fv")))
        .select(col("doc_id"), col("cells"), col("fv"), col("n2")))
    }

  /** REAL pixel-derived image FEATURE VECTORS (`mm_image_features`)
    * — the feature-extraction operator of an image similarity
    * pipeline, closing the stand-in-feature-vector stub for every
    * decodable payload ([[graft.multimodal.Multimodal]]): decoded
    * luma box-partitioned into the fixed 4×4 grid, per-cell exact
    * (sum, count) and the floor mean — the 16-dim vector the kNN
    * lane consumes. The oracle rebuilds the PNG in DuckDB, reads
    * every gray sample positionally, and re-derives the identical
    * cell partition and floor means — a decoder that mis-tiles,
    * mis-rounds, or mis-orders cells hash-mismatches. */
  def imageFeatures(s: SparkSession, d: String): DataFrame =
    imageFeatureFrame(s, d)
      .select(col("doc_id"), explode(col("cells")).as("c"))
      .select(col("doc_id"),
        col("c.cell_i").cast("bigint").as("cell_i"),
        col("c.cell_j").cast("bigint").as("cell_j"),
        col("c.lsum").as("lsum"), col("c.lcnt").as("lcnt"),
        expr("c.lsum div c.lcnt").as("mean_l"))

  /** Top-k most-similar images per probe by EXACT-integer cosine
    * over the REAL luma-grid features (`mm_feature_knn`) — the
    * similarity-search operator running on decoded-pixel features
    * instead of payload moments: score = ⌊10⁵·dot²/(‖a‖²·‖b‖²)⌋
    * (cosine² scaled; luma is non-negative so dot ≥ 0 and the
    * square is order-preserving — and every factor stays exact
    * int64: dot ≤ 16·765², so 10⁵·dot² < 2⁶³). Probe side is
    * broadcast (attachment subset), the corpus streams map-side
    * through the codegen dot-product kernel, and ranking is the
    * bounded-heap [[graft.functions.TopKByLong]] aggregate — the
    * exchange carries O(partitions×k), never the scored corpus. */
  def featureKnn(s: SparkSession, d: String): DataFrame = {
    val f = imageFeatureFrame(s, d)
    val q = f.filter(expr("doc_id % 115 = 0"))
      .select(col("doc_id").as("q_id"), col("fv").as("qfv"),
        col("n2").as("qn2"))
    val scored = f.select(col("doc_id"), col("fv"), col("n2"))
      .crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("q_id"))
      .withColumn("dot", graft.functions.DotProductLong(
        col("fv"), col("qfv")))
      .withColumn("score",
        expr("(100000 * dot * dot) div (n2 * qn2)"))
    scored.groupBy(col("q_id"))
      .agg(graft.functions.TopKByLong.topK(
        col("score"), col("doc_id"), 5).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("p0", "x")))
      .select(col("q_id"), col("x.id").as("doc_id"),
        (col("p0") + 1).cast("bigint").as("rank"),
        col("x.score").as("score"))
  }

  /** REAL pixel-derived image fingerprints (`mm_dhash`) — the
    * difference hash of [[graft.multimodal.ImageGrid]] over decoded
    * luma, per attachment: the feature-extraction step of an image
    * dedup pipeline, and the closure of the stand-in-feature-vector
    * stub for the image lane ([[graft.multimodal.Multimodal]]). The
    * oracle rebuilds the same PNG bytes in DuckDB, reads each gray
    * sample POSITIONALLY out of the stored-mode hex, and re-derives
    * the 9×8 cell grid, cross-multiplied mean comparisons, and both
    * 32-bit halves — a decoder that mis-tiles cells, divides (and
    * rounds) means, or packs bits in a different order
    * hash-mismatches. Pure map-side: construct → decode →
    * fingerprint in one codegen stage; the only exchange is the
    * driver's ordering of the (small) per-attachment output. */
  def dhashFingerprints(s: SparkSession, d: String): DataFrame =
    dhashFp(s, d)

  /** Image NEAR-DUP pairs by banded Hamming search
    * (`mm_image_neardup`) — the perceptual-dedup operator itself:
    * split each 64-bit dHash into four 16-bit bands, bucket-join on
    * (band index, band value), verify candidates with exact
    * `bit_count(xor)` Hamming distance ≤ 3. By pigeonhole, any pair
    * within distance 3 has at least one of the four bands untouched
    * (Manku, Jain & Sarma, WWW 2007, §3 — the classic exact
    * block-permutation search), so the banded candidate set provably
    * CONTAINS every true pair and the oracle can state ground truth
    * as a tiny all-pairs scan at verification scale while the engine
    * never goes all-pairs at any scale: the self-join touches only
    * same-band buckets, whose size is bounded by duplicate-cluster
    * size (the same boundedness argument as the MinHash lane; a
    * pathological mono-image corpus would cap buckets with the
    * salt discipline of [[DedupIndex]]). Distinct-before-distance
    * dedups multi-band collisions so the verify cost is once per
    * candidate pair. */
  /** The 4×16-bit band explode of a fingerprint frame — the LSH key
    * shared by the full pair search and the incremental probe. */
  private def dhashBands(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("dh_hi"), col("dh_lo"),
      posexplode(array(
        col("dh_hi").bitwiseAND(lit(0xFFFFL)),
        shiftrightunsigned(col("dh_hi"), 16),
        col("dh_lo").bitwiseAND(lit(0xFFFFL)),
        shiftrightunsigned(col("dh_lo"), 16))))
      .withColumnRenamed("pos", "band_i")
      .withColumnRenamed("col", "band_v")

  def imageNearDup(s: SparkSession, d: String): DataFrame = {
    val fp = dhashFp(s, d)
    val bands = dhashBands(fp)
    val l = bands.select(col("band_i"), col("band_v"),
      col("doc_id").as("a_id"), col("dh_hi").as("a_hi"),
      col("dh_lo").as("a_lo"))
    val r = bands.select(col("band_i"), col("band_v"),
      col("doc_id").as("b_id"), col("dh_hi").as("b_hi"),
      col("dh_lo").as("b_lo"))
    l.join(r, Seq("band_i", "band_v"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_hi"), col("a_lo"),
        col("b_hi"), col("b_lo"))
      .distinct()
      .withColumn("hamming",
        expr("CAST(bit_count(a_hi ^ b_hi) + bit_count(a_lo ^ b_lo) " +
          "AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** INCREMENTAL image near-dup (`mm_neardup_incremental`) — the
    * perceptual lane's rung on the incremental axis, the same
    * stored-index + broadcast-asymmetric probe discipline as
    * [[dedupIncremental]]: the fingerprint+band index of the BASE
    * attachments (doc_id % 46 = 0 — the prior snapshot) is a
    * memoized stored artifact; an ARRIVING batch (the other half of
    * the attachment subset) is fingerprinted, band-exploded, and
    * BROADCAST against the index — at 100 TB the index is
    * corpus-scale and the arrivals are batch-scale, so the probe
    * touches only the index buckets the arrivals' 4×|batch| band
    * keys hash to, with no corpus-side shuffle. Verification is the
    * same exact Hamming ≤ 3 (pigeonhole-complete), so the oracle
    * states ground truth as the tiny arriving×base all-pairs scan. */
  /** The base/arriving split of the attachment subset: alternating
    * BLOCKS of 12 attachments (not a modular split of doc_id itself,
    * which would correlate with the base-image residue doc_id % 12
    * and make the halves' image populations disjoint — the first cut
    * of this query proved that the hard way with a structurally
    * empty result). */
  private val dhashBaseSplit = "((doc_id div 23) div 12) % 2 = 0"

  def imageNeardupIncremental(s: SparkSession, d: String): DataFrame = {
    val fp = dhashFp(s, d)
    val baseBands = SnapshotMemo.getOrCompute(s, s"dhash-index:$d") {
      Fixpoint.ser(dhashBands(fp.filter(expr(dhashBaseSplit))))
    }
    val arriving = dhashBands(fp.filter(!expr(dhashBaseSplit)))
      .select(col("band_i"), col("band_v"), col("doc_id").as("new_id"),
        col("dh_hi").as("a_hi"), col("dh_lo").as("a_lo"))
    baseBands
      .select(col("band_i"), col("band_v"), col("doc_id").as("dup_of"),
        col("dh_hi").as("b_hi"), col("dh_lo").as("b_lo"))
      .join(broadcast(arriving), Seq("band_i", "band_v"))
      .select(col("new_id"), col("dup_of"), col("a_hi"), col("a_lo"),
        col("b_hi"), col("b_lo"))
      .distinct()
      .withColumn("hamming",
        expr("CAST(bit_count(a_hi ^ b_hi) + bit_count(a_lo ^ b_lo) " +
          "AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("new_id"), col("dup_of"), col("hamming"))
  }

  /** REAL video container metadata — the MP4 box-walk sibling of
    * [[imageDims]]/[[audioMeta]], closing the last multimodal
    * metadata stub: build genuine minimal MP4 files per document
    * (deterministic dims/timescale/duration from doc_id, via
    * [[graft.multimodal.VideoHex]] → `unhex`), parse them back with
    * the native `video_meta` codegen expression —
    * an ISO-BMFF box walk that must skip a real `free` box inside
    * `moov` before `mvhd`, then descend `trak`→`tkhd` for the 16.16
    * fixed-point dimensions — and roll up per timescale with exact
    * integer durations (d · 1000 div timescale). The oracle builds
    * the SAME bytes through a real DuckDB BLOB and extracts the
    * big-endian fields by offset arithmetic, so a parser that
    * mis-walks, byte-swaps, or forgets the 16.16 shift
    * hash-mismatches. Map-side construct → parse → partial agg; one
    * bounded exchange on the 4-key timescale space. */
  def videoMeta(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.VideoHex
    val payload = docs(s, d)
      .select(col("doc_id"),
        expr("(doc_id % 1280) + 16").as("w0"),
        expr("((doc_id * 13) % 720) + 16").as("h0"),
        expr("element_at(array(600, 1000, 24000, 90000), " +
          "CAST(doc_id % 4 AS INT) + 1)").as("ts0"),
        expr("(doc_id * 977) % 8640000 + 1").as("dur0"))
      .withColumn("hs",
        expr(VideoHex.mp4Hex("w0", "h0", "ts0", "dur0", "div")))
      .withColumn("payload", unhex(col("hs")))
    payload
      .withColumn("m", NativeFunctions.videoMeta(col("payload")))
      .groupBy(col("m.timescale").cast("bigint").as("timescale"))
      .agg(count(lit(1)).as("n_videos"),
        sum(col("m.duration")).as("sum_dur"),
        sum(expr("m.duration * 1000 div m.timescale")).as("sum_ms"),
        sum(col("m.width").cast("bigint")).as("sum_w"),
        max(col("m.height").cast("bigint")).as("max_h"))
  }

  /** AVI main-header metadata (`mm_avi_meta`) — the LITTLE-endian
    * legacy video container through the SAME `video_meta` expression
    * as MP4 (magic-dispatched, like `audio_meta`'s WAV/FLAC split):
    * build per-document AVI heads with a JUNK chunk the RIFF walk
    * must skip, decode, and emit per-file display geometry plus the
    * exact millisecond duration derived from AVI's native
    * microsecond clock (timescale = 10⁶, duration = µsPerFrame ·
    * frames — the mapping that keeps `ms = d·1000/ts` true for both
    * containers). The oracle re-reads all four avih fields
    * positionally as u32le and re-derives the duration — a parser
    * that byte-swaps, misses the JUNK skip, or misplaces a field
    * inside the 56-byte header hash-mismatches. Map-side construct
    * → parse → project; no shuffle. */
  def aviMeta(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.VideoHex
    docs(s, d)
      .select(col("doc_id"),
        expr("(doc_id % 1920) + 16").as("w0"),
        expr("((doc_id * 13) % 1080) + 16").as("h0"),
        expr("element_at(array(40000, 33367, 20000), " +
          "CAST(doc_id % 3 AS INT) + 1)").as("usf0"),
        expr("(doc_id * 31) % 100000 + 1").as("nf0"))
      .withColumn("payload", unhex(
        expr(VideoHex.aviHex("w0", "h0", "usf0", "nf0", "div"))))
      .withColumn("m", NativeFunctions.videoMeta(col("payload")))
      .select(col("doc_id"),
        col("m.width").cast("bigint").as("width"),
        col("m.height").cast("bigint").as("height"),
        expr("m.duration * 1000 div m.timescale").as("dur_ms"))
  }

  /** REAL MP3 frame-walk metadata — the compressed-audio lane's
    * analog of [[videoMeta]]'s box walk: build genuine MPEG-1
    * Layer III streams per document (deterministic VBR bitrate
    * sequence, sample rate, channel mode, and an ID3v2 tag to skip
    * on 3 of 4 docs — via [[graft.multimodal.Mp3Hex]] → `unhex`),
    * walk them back with the native `mp3_meta`
    * codegen expression (syncsafe ID3 skip + derived-frame-length
    * chain), and roll up per (sample_rate, channels) with exact
    * integer durations (`n_frames · 1152000 div rate`). The oracle
    * builds the SAME bytes through a real DuckDB BLOB and replays
    * the walk POSITIONALLY: cumulative frame-length arithmetic
    * locates each header, the packed bytes are EXTRACTED from the
    * blob hex, and every metric is re-derived from the extracted
    * values — one wrong frame length on either side desynchronizes
    * all following offsets and hash-mismatches. Map-side construct
    * → parse → partial agg; ONE bounded exchange on the ~6-key
    * (rate, channels) space. At 100 TB: identical shape — the walk
    * reads header-range bytes per row, never a full-object fetch. */
  def mp3Meta(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.{ImageHex, Mp3Hex}
    val rateE = Mp3Hex.rateCase(Mp3Hex.SrIdxE)
    val payload = docs(s, d)
      .select(col("doc_id"))
      .withColumn("hs", expr(Mp3Hex.mp3Hex(Mp3Hex.HasId3E,
        Mp3Hex.Id3PadE, Mp3Hex.NframesE, Mp3Hex.SrIdxE, rateE,
        Mp3Hex.ModeE, "div", ImageHex.seqJoinSpark)))
      .withColumn("payload", unhex(col("hs")))
    payload
      .withColumn("m", NativeFunctions.mp3Meta(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_frames").cast("bigint")).as("sum_frames"),
        sum(col("m.sum_kbps")).as("sum_kbps"),
        sum(col("m.frame_bytes")).as("sum_frame_bytes"),
        sum(expr("m.n_frames * 1152000 div m.sample_rate"))
          .as("sum_ms"))
  }

  /** Xing/Info VBR header decode (`mm_mp3_vbr`) — the
    * variable-bitrate DURATION path of the MP3 lane: a VBR file's
    * first frame header misstates the mean bitrate, so players read
    * the LAME-convention block after the side info (17 bytes mono /
    * 32 otherwise — the fixture exercises both via the per-doc
    * channel mode) for declared total frames/bytes and the derived
    * duration estimate, without walking every frame. Fixture
    * streams embed the block inside a genuine first frame followed
    * by plain frames; the native `mp3_vbr`
    * expression re-locates it through the real header arithmetic
    * (ID3 skip, frame geometry, side-info offset). The oracle reads
    * magic, counts, and rate POSITIONALLY from the rebuilt hex and
    * re-derives est_ms — a parser that miscomputes the side-info
    * offset or reads the counts little-endian hash-mismatches. Pure
    * map-side construct → decode scan. */
  /** ID3v2 text-frame extraction (`mm_id3_tags`) — the metadata
    * half of the tag the frame walk only skips: per-document tags
    * carrying TIT2/TPE1 (+ TALB on two of three docs) are decoded by
    * the native `id3_tags` expression. Even docs
    * build v2.4 (SYNCSAFE frame sizes), odd v2.3 (plain u32be) — the
    * version split is the point: a parser applying one size
    * discipline to both halves walks into the middle of a frame and
    * hash-mismatches. Absent frames surface as null fields, not
    * errors. Map-side construct → parse → project; no shuffle. */
  def id3Tags(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.Mp3Hex
    def hexStr(e: String) = s"hex(encode($e, 'UTF-8'))"
    docs(s, d)
      .select(col("doc_id"),
        expr("concat('Title ', CAST(doc_id AS STRING))").as("t1"),
        expr("concat('Artist ', CAST(doc_id % 7 AS STRING))").as("t2"),
        expr("concat('Album ', CAST(doc_id % 11 AS STRING))").as("t3"),
        expr("doc_id % 3 != 0").as("hasalb"))
      .withColumn("payload", unhex(expr(
        s"""CASE WHEN doc_id % 2 = 0
           |  THEN ${Mp3Hex.id3TagsHex("t1", "t2", "t3", "hasalb",
                ver24 = true, "div", hexStr)}
           |  ELSE ${Mp3Hex.id3TagsHex("t1", "t2", "t3", "hasalb",
                ver24 = false, "div", hexStr)} END""".stripMargin)))
      .withColumn("m", NativeFunctions.id3Tags(col("payload")))
      .select(col("doc_id"), col("m.title").as("title"),
        col("m.artist").as("artist"), col("m.album").as("album"),
        col("m.version").cast("bigint").as("version"))
  }

  /** MPEG-2 / 2.5 (LSF) frame walk (`mm_mp3_mpeg2`) — the
    * low-sample-rate half of real-world MP3 (voice, audiobooks,
    * low-bandwidth streams ship at 8–24 kHz): per-document streams
    * in BOTH LSF versions (MPEG-2 on even docs, 2.5 on odd — their
    * own bitrate table, HALF the frame-size coefficient because a
    * frame holds 576 samples, and version-specific rate tables)
    * walked by the same `mp3_meta` expression,
    * which now reports the version's samples-per-frame so duration
    * math stays exact (`n_frames · spf · 1000 div rate`). The
    * oracle replays the walk POSITIONALLY with the LSF frame-length
    * arithmetic — one wrong coefficient or bitrate-table entry
    * desynchronizes every following offset. Map-side construct →
    * parse → partial agg; one bounded exchange on the ≤ 6-key
    * (rate, channels) space. */
  def mp3Mpeg2(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.{ImageHex, Mp3Hex}
    val rateE = Mp3Hex.rate2Case(Mp3Hex.SrIdxE, Mp3Hex.V25E)
    docs(s, d)
      .select(col("doc_id"))
      .withColumn("hs", expr(Mp3Hex.mp3Hex2(Mp3Hex.HasId3E,
        Mp3Hex.Id3PadE, Mp3Hex.NframesE, Mp3Hex.SrIdxE, rateE,
        Mp3Hex.Mode2E, Mp3Hex.V25E, "div", ImageHex.seqJoinSpark)))
      .withColumn("payload", unhex(col("hs")))
      .withColumn("m", NativeFunctions.mp3Meta(col("payload")))
      .groupBy(col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.channels").cast("bigint").as("channels"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("m.n_frames").cast("bigint")).as("sum_frames"),
        sum(col("m.sum_kbps")).as("sum_kbps"),
        sum(col("m.frame_bytes")).as("sum_frame_bytes"),
        sum(expr("m.n_frames * m.spf * 1000 div m.sample_rate"))
          .as("sum_ms"))
  }

  /** ID3v2.2 text-frame extraction (`mm_id3_v22`) — the LEGACY tag
    * layout (3-char frame ids TT2/TP1/TAL, 6-byte headers with
    * u24be sizes, ISO-8859-1 text) that iTunes-era files still
    * carry: a parser applying the v2.3/2.4 10-byte header walk to a
    * v2.2 tag lands mid-frame. Same component-replay oracle
    * discipline as [[id3Tags]]. Map-side construct → parse →
    * project; no shuffle. */
  def id3V22(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.Mp3Hex
    def hexStr(e: String) = s"hex(encode($e, 'UTF-8'))"
    docs(s, d)
      .select(col("doc_id"),
        expr("concat('Song ', CAST(doc_id % 17 AS STRING))").as("t1"),
        expr("concat('Act ', CAST(doc_id % 5 AS STRING))").as("t2"),
        expr("concat('LP ', CAST(doc_id % 23 AS STRING))").as("t3"),
        expr("doc_id % 4 != 1").as("hasalb"))
      .withColumn("payload", unhex(expr(Mp3Hex.id3Tags22Hex(
        "t1", "t2", "t3", "hasalb", "div", hexStr))))
      .withColumn("m", NativeFunctions.id3Tags(col("payload")))
      .select(col("doc_id"), col("m.title").as("title"),
        col("m.artist").as("artist"), col("m.album").as("album"),
        col("m.version").cast("bigint").as("version"))
  }

  def mp3Vbr(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.{ImageHex, Mp3Hex}
    val rateE = Mp3Hex.rateCase(Mp3Hex.SrIdxE)
    docs(s, d)
      .select(col("doc_id"))
      .withColumn("hs", expr(Mp3Hex.mp3VbrHex(Mp3Hex.HasId3E,
        Mp3Hex.Id3PadE, Mp3Hex.NframesE, Mp3Hex.SrIdxE, rateE,
        Mp3Hex.ModeE, Mp3Hex.VbrMagicHexE, Mp3Hex.VbrFramesE,
        Mp3Hex.VbrBytesE, "div", ImageHex.seqJoinSpark)))
      .withColumn("payload", unhex(col("hs")))
      .withColumn("m", NativeFunctions.mp3Vbr(col("payload")))
      .select(col("doc_id"), col("m.tag").as("tag"),
        col("m.sample_rate").cast("bigint").as("sample_rate"),
        col("m.n_frames").as("vbr_frames"),
        col("m.n_bytes").as("vbr_bytes"),
        col("m.est_ms").as("est_ms"))
  }

  /** Layer-III SIDE-INFO + SCALEFACTOR decode (`mm_mp3_sideinfo`) —
    * the structural layer between the MP3 frame-header walk
    * ([[mp3Meta]]) and full sample decode (which stays the declared
    * Huffman/IMDCT stub): per-document streams whose first frame
    * carries genuine ISO 11172-3 §2.4.1.7 side information and
    * §2.4.2.7 main-data scalefactors — every field deterministic in
    * doc_id, bit-packed by `mp3_side_fixture` —
    * decoded back through `mp3_side_info`'s bounded
    * bit walk: the window-switching branch split, the slen1/slen2
    * scalefac_compress table, granule-1 scfsi COPY semantics (set
    * groups are not transmitted; the decoder must reuse granule 0's
    * values), and each channel's Huffman region skipped via
    * part2_3_length − part2 so one mis-summed slen desynchronizes
    * the next channel. Docs divisible by 7 carry a nonzero
    * main_data_begin (bit-reservoir backreference) — the reader
    * reports −1 scalefactor fields rather than guessing at data it
    * cannot locate. The oracle replays every expected field in
    * CLOSED FORM from doc_id (the [[flacFixed]] discipline); the
    * reader is independently pinned on hand-assembled bitstreams in
    * Mp3SideInfoSpec. Map-side construct → decode → project; no
    * shuffle; at 100 TB the walk reads first-frame byte ranges per
    * row, never a full-object fetch. */
  def mp3SideInfo(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.mp3SideFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.mp3SideInfo(col("payload")))
      .select(col("doc_id"),
        col("m.main_data_begin").cast("bigint").as("main_data_begin"),
        col("m.channels").cast("bigint").as("channels"),
        col("m.scfsi_mask").cast("bigint").as("scfsi_mask"),
        col("m.p23_sum").as("p23_sum"),
        col("m.bigv_sum").as("bigv_sum"),
        col("m.gain_max").cast("bigint").as("gain_max"),
        col("m.bt1").cast("bigint").as("bt1"),
        col("m.mixed1").cast("bigint").as("mixed1"),
        col("m.tsel_sum").as("tsel_sum"),
        col("m.reg_sum").as("reg_sum"),
        col("m.sbg_sum").as("sbg_sum"),
        col("m.flags_sum").as("flags_sum"),
        col("m.part2_bits").as("part2_bits"),
        col("m.sf_sum").as("sf_sum"),
        col("m.sf_n").as("sf_n"))

  /** COUNT1-region Huffman decode (`mm_mp3_count1`) — the first
    * real ENTROPY slice of the Layer III sample path, the MP3
    * analog of H.264's I_PCM rung: frames with `big_values` = 0
    * (a fully conformant stream class — all spectral energy in the
    * count1/zero regions) whose part3 carries genuine count1
    * TABLE-1 codewords — 4-bit bitwise-complement codes for
    * spectral quadruples (v,w,x,y ∈ {0, ±1}), each nonzero value
    * followed by its sign bit — decoded through the same side-info
    * + scalefactor walk as [[mp3SideInfo]], consuming quadruples
    * until part2_3_length is exhausted EXACTLY (a reader that
    * mis-sums part2 or drops a sign bit desynchronizes the region
    * boundary and fails closed). Table 0 and the big-values tables
    * 1–31 are variable-length trees with no codec library in this
    * container to pin them against — they stay outside verified
    * scope, rejected loudly. The oracle replays the expected
    * quadruple census in closed form from doc_id. Map-side
    * construct → decode → project; no shuffle. */
  def mp3Count1(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.mp3Count1Fixture(col("doc_id")))
      .withColumn("m", NativeFunctions.mp3Count1(col("payload")))
      .select(col("doc_id"),
        col("m.n_quads").as("n_quads"),
        col("m.n_nonzero").as("n_nonzero"),
        col("m.n_neg").as("n_neg"),
        col("m.sum_vals").as("sum_vals"))

  /** The count1 walk under TABLE A (`mm_mp3_count1a`) — the
    * variable-length sibling of [[mp3Count1]]: the SAME quadruple
    * and sign sequence encoded through the transcribed 1–6-bit tree
    * ([[graft.multimodal.Mp3Headers.Count1TableA]],
    * Kraft/prefix-validated at load), selected by
    * `count1table_select` = 0. The oracle is the identical census
    * (the values don't depend on the coding table) — but the engine
    * can only reproduce it by walking the tree exactly, because
    * part2_3_length is computed from TABLE-A bit widths and any
    * mis-walk desynchronizes the region end. */
  def mp3Count1A(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.mp3Count1aFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.mp3Count1(col("payload")))
      .select(col("doc_id"),
        col("m.n_quads").as("n_quads"),
        col("m.n_nonzero").as("n_nonzero"),
        col("m.n_neg").as("n_neg"),
        col("m.sum_vals").as("sum_vals"))

  /** BIG-VALUES-region Huffman decode (`mm_mp3_bigvalues`) — the
    * variable-length entropy slice below [[mp3Count1]]'s fixed-width
    * count1 walk: frames whose part3 carries genuine Table-B.7
    * (x, y) pair codewords under the verified table subset
    * {0,1,2,3,5},
    * regions split by region0/region1_count over the B.8 long-block
    * band boundaries, each nonzero value followed by its sign bit,
    * consuming part2_3_length EXACTLY. The tables are transcribed
    * spec constants with no codec in this container to pin them
    * against, so the transcription carries its own Kraft/prefix
    * self-check ([[graft.multimodal.Mp3Headers.BvTables]]) and the
    * oracle replays the expected pair census in closed form from
    * doc_id — a decoder that mis-walks any codeword, region
    * boundary or sign bit desynchronizes the region end and fails
    * closed. Map-side construct → decode → project; no shuffle. */
  def mp3Bigvalues(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.mp3BigvaluesFixture(col("doc_id")))
      .withColumn("m", NativeFunctions.mp3Bigvalues(col("payload")))
      .select(col("doc_id"),
        col("m.n_regions").as("n_regions"),
        col("m.n_pairs").as("n_pairs"),
        col("m.n_nonzero").as("n_nonzero"),
        col("m.n_neg").as("n_neg"),
        col("m.sum_vals").as("sum_vals"))

  /** LUMA-DC CAVLC residual decode (`mm_h264_cavlc_luma`) — the
    * full-column sibling of [[h264Cavlc]]'s chroma lane:
    * per-document conformant baseline streams whose macroblocks are
    * I_16x16_<pred>_0_0 (chroma CBP 0 / luma CBP 0), so each
    * macroblock's ONE residual block is Intra16x16DCLevel with REAL
    * coefficients — decoded through the complete Table 9-5
    * 0 ≤ nC < 2 coeff_token column (TotalCoeff 0..16), the full
    * §9.2.2.1 level ladder with its prefix-14/15 escapes, Tables
    * 9-7/9-8 total_zeros and the full run_before table. nC = 0
    * holds provably (one-MB-row pictures, uncoded AC neighbours —
    * the parser doc carries the argument). Tables transcribed under
    * the Kraft/prefix self-check with DECLARED spec-unused leaves;
    * the oracle replays the census in closed form from doc_id.
    * Map-side construct → decode → project. */
  def h264CavlcLuma(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val payloads = docs(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map(id =>
          (id, graft.multimodal.H264Fixture.annexBCavlcLuma(id)))
      }.toDF("doc_id", "payload")
    payloads
      .withColumn("m", NativeFunctions.h264CavlcLuma(col("payload")))
      .select(col("doc_id"),
        col("m.n_mbs").as("n_mbs"),
        col("m.n_coeffs").as("n_coeffs"),
        col("m.n_t1").as("n_t1"),
        col("m.n_neg").as("n_neg"),
        col("m.sum_levels").as("sum_levels"),
        col("m.sum_tz").as("sum_tz"))
  }

  /** COMBINED-residual CAVLC decode (`mm_h264_cavlc_full`) — the
    * region SEQUENCE the isolated lanes pin separately, the
    * `mm_mp3_part3` discipline for video: every macroblock is
    * I_16x16_<pred>_1_0 and its macroblock_layer carries a REAL
    * luma-DC block (the luma lane's full column + escapes) followed
    * by the two chroma-DC blocks (the chroma lane's nC = −1 walk)
    * in ONE bitstream — the boundary between the classes is
    * implicit in the codeword widths, so any slip in either walk
    * desynchronizes the other and fails closed at the rbsp
    * trailing check. Oracle = the two lanes' closed forms summed
    * per class. Map-side construct → decode → project. */
  def h264CavlcFull(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val payloads = docs(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map(id =>
          (id, graft.multimodal.H264Fixture.annexBCavlcFull(id)))
      }.toDF("doc_id", "payload")
    payloads
      .withColumn("m", NativeFunctions.h264CavlcFull(col("payload")))
      .select(col("doc_id"),
        col("m.n_mbs").as("n_mbs"),
        col("m.n_luma").as("n_luma"),
        col("m.luma_sum").as("luma_sum"),
        col("m.n_chroma").as("n_chroma"),
        col("m.chroma_sum").as("chroma_sum"),
        col("m.n_neg").as("n_neg"),
        col("m.sum_tz").as("sum_tz"))
  }

  /** LUMA-AC CAVLC residual decode (`mm_h264_cavlc_ac`) — the lane
    * where H.264's §9.2.1 neighbour-nC machinery finally RUNS: every
    * macroblock is I_16x16_<pred>_0_1 (luma CBP 15 / chroma CBP 0),
    * so its macroblock_layer codes one Intra16x16DCLevel block plus
    * SIXTEEN Intra16x16ACLevel blocks, and each block's Table 9-5
    * coeff_token column is selected by the decoded TotalCoeff of its
    * §6.4.10.4 neighbours (left crossing macroblock boundaries) —
    * columns 0 ≤ nC < 2 and 2 ≤ nC < 4 (Kraft-gated
    * transcriptions), the ALGORITHMIC nC ≥ 8 six-bit FLC, the
    * declared fail-closed 4 ≤ nC < 8 band. The fixture's AC
    * TotalCoeffs come from {0,1,2,3,15} — a set closed under the nC
    * formula so every reachable nC lands in a shipped band, with the
    * 15s pushing neighbours into the FLC column. `sum_nc` makes the
    * neighbour arithmetic itself part of the census: the oracle
    * replays it RELATIONALLY (a coordinate self-join), the third
    * independent spelling beside the decoder's transcribed index
    * arrays and the fixture's raster-coordinate derivation.
    * Map-side construct → decode → project. */
  def h264CavlcAc(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val payloads = docs(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map(id =>
          (id, graft.multimodal.H264Fixture.annexBCavlcAc(id)))
      }.toDF("doc_id", "payload")
    payloads
      .withColumn("m", NativeFunctions.h264CavlcAc(col("payload")))
      .select(col("doc_id"),
        col("m.n_mbs").as("n_mbs"),
        col("m.n_dc").as("n_dc"),
        col("m.dc_sum").as("dc_sum"),
        col("m.n_ac").as("n_ac"),
        col("m.ac_sum").as("ac_sum"),
        col("m.n_t1").as("n_t1"),
        col("m.n_neg").as("n_neg"),
        col("m.sum_tz").as("sum_tz"),
        col("m.sum_nc").as("sum_nc"))
  }

  /** COMPLETE-macroblock CAVLC residual decode (`mm_h264_cavlc_mb`)
    * — the capstone of the H.264 entropy family: every macroblock is
    * I_16x16_<pred>_2_1 (chroma CBP 2 / luma CBP 15), so its
    * §7.3.5.3.3 residual carries EVERY block class this picture
    * family codes, all real, in one bitstream — Intra16x16DCLevel,
    * sixteen Intra16x16ACLevel blocks (neighbour-routed Table 9-5
    * columns), two ChromaDCLevel blocks (the fixed nC = −1 column),
    * and eight ChromaACLevel blocks over the per-component 2×2
    * chroma grid with its own §9.2.1 neighbour derivation. Four
    * block classes, three nC regimes and both total_zeros table
    * families sequence through one part of the bitstream whose
    * region boundaries are all implicit in codeword widths — a slip
    * anywhere desynchronizes everything after it. Oracle = the four
    * classes' closed forms, with BOTH neighbour censuses (luma
    * raster grid, chroma 2×2 grid) replayed relationally.
    * Map-side construct → decode → project. */
  def h264CavlcMb(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val payloads = docs(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map(id =>
          (id, graft.multimodal.H264Fixture.annexBCavlcMb(id)))
      }.toDF("doc_id", "payload")
    payloads
      .withColumn("m", NativeFunctions.h264CavlcMb(col("payload")))
      .select(col("doc_id"),
        col("m.n_mbs").as("n_mbs"),
        col("m.luma_dc").as("luma_dc"),
        col("m.luma_ac").as("luma_ac"),
        col("m.chroma_dc").as("chroma_dc"),
        col("m.chroma_ac").as("chroma_ac"),
        col("m.sum_levels").as("sum_levels"),
        col("m.n_t1").as("n_t1"),
        col("m.n_neg").as("n_neg"),
        col("m.sum_tz").as("sum_tz"),
        col("m.sum_nc").as("sum_nc"))
  }

  /** FULL part3 decode (`mm_mp3_part3`) — the region SEQUENCE the
    * isolated lanes pin separately: per long-block granule ×
    * channel, the big-values pairs (verified B.7 subset) followed
    * by count1 quadruples (table A on half the channels, the 4-bit
    * complement table on the rest) in ONE part2_3_length. The
    * region boundary is implicit in the codeword widths — a slip in
    * either layer desynchronizes the other and fails closed at the
    * exact-exhaustion check. Oracle: the two closed-form censuses
    * combined. Map-side construct → decode → project; no shuffle. */
  def mp3Part3(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .withColumn("payload",
        NativeFunctions.mp3Part3Fixture(col("doc_id")))
      .withColumn("m", NativeFunctions.mp3Part3(col("payload")))
      .select(col("doc_id"),
        col("m.n_regions").as("n_regions"),
        col("m.n_pairs").as("n_pairs"),
        col("m.n_quads").as("n_quads"),
        col("m.n_nonzero").as("n_nonzero"),
        col("m.n_neg").as("n_neg"),
        col("m.sum_vals").as("sum_vals"))

  /** REAL H.264 Annex-B NAL walk + SPS Exp-Golomb decode — the
    * video-bitstream analog of [[mp3Meta]]: encode deterministic
    * per-document SPS parameters into genuine four-NAL Annex-B
    * streams with [[graft.multimodal.H264Fixture]]'s independent
    * bit writer (SEI zero runs force emulation-prevention
    * escaping), decode them back with the native
    * `h264_sps` expression (start-code walk, RBSP
    * unescape, the §7.3.2.1 field chain to the DERIVED cropped
    * dimensions), and roll up per (profile, level). The oracle
    * replays the parameter derivation arithmetically — since width/
    * height survive only if every variable-length field before them
    * was walked exactly, agreement pins both bit-level
    * implementations. Map-side encode → decode → partial agg; ONE
    * bounded exchange on the 15-key (profile, level) space. */
  def h264Sps(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val payloads = docs(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map(id => (id, graft.multimodal.H264Fixture.annexB(id)))
      }.toDF("doc_id", "payload")
    payloads
      .withColumn("m", NativeFunctions.h264Sps(col("payload")))
      .groupBy(col("m.profile_idc").cast("bigint").as("profile_idc"),
        col("m.level_idc").cast("bigint").as("level_idc"))
      .agg(count(lit(1)).as("n_videos"),
        sum(col("m.width").cast("bigint")).as("sum_w"),
        sum(col("m.height").cast("bigint")).as("sum_h"),
        max(col("m.width").cast("bigint")).as("max_w"),
        max(col("m.height").cast("bigint")).as("max_h"),
        sum(col("m.n_nals").cast("bigint")).as("sum_nals"))
  }

  /** REAL H.264 SAMPLE decode (`mm_h264_pcm`) — PCM-coded pictures
    * through [[graft.multimodal.H264Pcm]]: encode deterministic raw
    * samples into CONFORMANT three-NAL Annex-B IDR streams whose
    * macroblocks are all I_PCM (the standard's lossless escape
    * hatch, §7.3.5/§8.3.5) with [[graft.multimodal.H264Fixture]]'s
    * independent bit writer, then decode them back — NAL walk, RBSP
    * unescape (sample bytes force real emulation-prevention work),
    * Exp-Golomb slice header against the active SPS/PPS,
    * `pcm_alignment_zero_bit` padding, raw sample read — to per-MB
    * exact-integer luma/chroma statistics. The oracle restates the
    * sample-generation rule arithmetically: samples survive only if
    * every variable-length bit field before them was walked exactly.
    * Map-side encode → decode → explode; no exchange at all (the
    * driver's output sort is the only ordering). */
  def h264PcmDecode(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val payloads = docs(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map(id => (id, graft.multimodal.H264Fixture.annexBPcm(id)))
      }.toDF("doc_id", "payload")
    payloads
      .select(col("doc_id"),
        explode(NativeFunctions.h264PcmMbs(col("payload"))).as("m"))
      .select(col("doc_id"),
        col("m.mb_i").cast("bigint").as("mb_i"),
        col("m.luma_sum").as("luma_sum"),
        col("m.luma_min").cast("bigint").as("luma_min"),
        col("m.luma_max").cast("bigint").as("luma_max"),
        col("m.cbcr_sum").as("cbcr_sum"),
        col("m.width").cast("bigint").as("width"),
        col("m.height").cast("bigint").as("height"))
  }

  /** CAVLC residual decode (`mm_h264_cavlc`) — the entropy rung
    * above [[h264PcmDecode]]'s raw-sample one: per-document
    * conformant baseline streams whose macroblocks are
    * I_16x16_<pred>_1_0 (chroma CBP 1 / luma CBP 0), decoded through
    * the REAL §9.2 CAVLC walk over each macroblock's two 2×2 chroma
    * DC blocks — coeff_token (the fixed nC = −1 table), trailing-one
    * signs, the §9.2.2 level prefix/suffix ladder with suffixLength
    * adaptation, total_zeros and run_before — plus the 1-bit empty
    * luma DC codeword that keeps the neighbour-predicted nC at 0.
    * The tables are transcribed spec constants validated for
    * Kraft-completeness/prefix-freeness at load (the
    * `mm_mp3_bigvalues` discipline); the oracle replays the census
    * in closed form from doc_id, so any mis-walked codeword, sign,
    * run or header field desynchronizes the rbsp trailing check and
    * fails closed. Map-side construct → decode → project. */
  def h264Cavlc(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val payloads = docs(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map(id => (id, graft.multimodal.H264Fixture.annexBCavlc(id)))
      }.toDF("doc_id", "payload")
    payloads
      .withColumn("m", NativeFunctions.h264Cavlc(col("payload")))
      .select(col("doc_id"),
        col("m.n_mbs").as("n_mbs"),
        col("m.n_coeffs").as("n_coeffs"),
        col("m.n_t1").as("n_t1"),
        col("m.n_neg").as("n_neg"),
        col("m.sum_levels").as("sum_levels"),
        col("m.sum_tz").as("sum_tz"))
  }

  // ---------------------------------------------------------------
  // DuckDB oracle SQL
  // ---------------------------------------------------------------

  /** Tokenized words CTE (DuckDB list is 1-based like Spark's
    * element_at). */

  /** The full positional fingerprint replay (construct → decode →
    * frame energies → delta-sign pack), shared by the `mm_audio_fp`
    * row and the `mm_audio_neardup` ground truth. */
  private def audioFpOracleSelect: String = {
      import graft.multimodal.AudioHex._
      s"""WITH t AS (SELECT doc_id,
         |    list_extract([8000, 16000, 22050, 44100, 48000],
         |      CAST(doc_id % 5 AS INT) + 1) AS rate0,
         |    4 * (doc_id % 36 + 2) AS nv0
         |  FROM documents),
         |b AS (SELECT doc_id, rate0, nv0,
         |    hex(from_hex(concat(
         |      ${wavHex("rate0", "1", "nv0 * 2", "//")},
         |      ${pcmPayloadHexDuck("nv0", SampleExpr)}))) AS hs
         |  FROM t),
         |smp AS (SELECT doc_id, rate0, nv0, i,
         |    ${unhexLEat("hs", s"$PayloadPos + 4 * i", "strpos")} AS u
         |  FROM (SELECT doc_id, rate0, nv0, hs,
         |        unnest(range(0, nv0)) AS i FROM b)),
         |sv AS (SELECT doc_id, rate0, nv0, i,
         |    CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
         |  FROM smp),
         |fr AS (SELECT doc_id, rate0, nv0, i // 4 AS f,
         |    SUM(s * s) AS e
         |  FROM sv GROUP BY 1, 2, 3, 4),
         |bits AS (SELECT l.doc_id, l.rate0, l.nv0, l.f,
         |    CASE WHEN r.e > l.e THEN 1 ELSE 0 END AS bit
         |  FROM fr l JOIN fr r
         |    ON l.doc_id = r.doc_id AND r.f = l.f + 1
         |  WHERE l.f < 32)
         |SELECT doc_id,
         |  CAST(MAX(rate0) AS INT) AS sample_rate,
         |  CAST(MAX(nv0) // 4 AS BIGINT) AS n_frames,
         |  CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(f AS INT)))
         |    AS BIGINT) AS fp
         |FROM bits GROUP BY 1""".stripMargin
      }

  private val wCte =
    """w AS (SELECT doc_id, lang, n_chars, text,
      |  regexp_split_to_array(trim(lower(text)), '\s+') AS ws
      |  FROM documents)""".stripMargin

  /** The boosted-stump trainer's unrolled oracle stages (the BPE
    * discipline: one MATERIALIZED stage chain per round, each round
    * re-derived from first principles in SQL): weighted value-level
    * prefix sums, the global (err, feature, threshold, polarity)
    * argmin, and weight-DOUBLING reweighting from the argmin row.
    * Returns the full CTE body up to `b1..b{rounds}`; callers append
    * their own final SELECT. */
  private def boostedOracleCtes(rounds: Int): String = {
    val sw = stopwords.map(x => s"'$x'").mkString(", ")
    val featCase = """CASE b.feature WHEN 'n_tokens' THEN xx.n_tokens
      |      WHEN 'stop_x1000' THEN xx.stop_x1000
      |      WHEN 'mean_wordlen_x100' THEN xx.mean_wordlen_x100
      |      ELSE xx.punct_x1000 END""".stripMargin
    val prefix = s"""$wCte,
      |f AS (SELECT doc_id, lang,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos,
      |    CAST(len(ws) AS BIGINT) AS n_tokens,
      |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g'))
      |      AS BIGINT) AS n_nonspace,
      |    CAST(length(text) AS BIGINT) AS n_chars_calc,
      |    CAST(length(text)
      |      - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
      |      AS BIGINT) AS n_punct,
      |    CAST(len(list_filter(ws, x -> x IN ($sw))) AS BIGINT)
      |      AS n_stop
      |  FROM w),
      |xx AS MATERIALIZED (SELECT doc_id, lang, is_pos, n_tokens,
      |    CAST(floor(1000.0 * n_stop / n_tokens) AS BIGINT)
      |      AS stop_x1000,
      |    CAST(floor(100.0 * n_nonspace / n_tokens) AS BIGINT)
      |      AS mean_wordlen_x100,
      |    CAST(floor(1000.0 * n_punct / n_chars_calc) AS BIGINT)
      |      AS punct_x1000
      |  FROM f),
      |lg AS (
      |  SELECT doc_id, 'n_tokens' AS feature, n_tokens AS x, is_pos
      |    FROM xx
      |  UNION ALL SELECT doc_id, 'stop_x1000', stop_x1000, is_pos
      |    FROM xx
      |  UNION ALL SELECT doc_id, 'mean_wordlen_x100',
      |    mean_wordlen_x100, is_pos FROM xx
      |  UNION ALL SELECT doc_id, 'punct_x1000', punct_x1000, is_pos
      |    FROM xx),
      |w1 AS (SELECT doc_id, CAST(1 AS BIGINT) AS w FROM xx)"""
      .stripMargin
    val stages = (1 to rounds).map { k =>
      val reweight =
        if (k == rounds) ""
        else s""",
          |w${k + 1} AS MATERIALIZED (SELECT xx.doc_id,
          |    CAST(wt.w * CASE WHEN
          |      (($featCase >= b.threshold) = (b.polarity = 'ge'))
          |      = (xx.is_pos = 1) THEN 1 ELSE 2 END AS BIGINT) AS w
          |  FROM xx JOIN w$k wt USING (doc_id) CROSS JOIN b$k b)"""
          .stripMargin
      s"""v$k AS MATERIALIZED (SELECT feature, x,
        |    CAST(SUM(l.w * l.is_pos) AS BIGINT) AS wp,
        |    CAST(SUM(l.w * (1 - l.is_pos)) AS BIGINT) AS wn
        |  FROM (SELECT lg.feature, lg.x, lg.is_pos, wt.w
        |        FROM lg JOIN w$k wt USING (doc_id)) l
        |  GROUP BY 1, 2),
        |s$k AS (SELECT feature, x,
        |    CAST(COALESCE(SUM(wp) OVER (PARTITION BY feature
        |      ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) AS BIGINT) AS cwp,
        |    CAST(COALESCE(SUM(wn) OVER (PARTITION BY feature
        |      ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) AS BIGINT) AS cwn,
        |    CAST(SUM(wp) OVER (PARTITION BY feature) AS BIGINT)
        |      AS twp,
        |    CAST(SUM(wn) OVER (PARTITION BY feature) AS BIGINT)
        |      AS twn
        |  FROM v$k),
        |e$k AS (SELECT feature, x, twp, twn,
        |    cwp + (twn - cwn) AS err_ge,
        |    twp + twn - (cwp + (twn - cwn)) AS err_lt
        |  FROM s$k),
        |b$k AS MATERIALIZED (SELECT feature, x AS threshold,
        |    CASE WHEN err_ge <= err_lt THEN 'ge' ELSE 'lt' END
        |      AS polarity,
        |    CAST(LEAST(err_ge, err_lt) AS BIGINT) AS w_err,
        |    CAST(twp + twn AS BIGINT) AS w_total
        |  FROM e$k
        |  ORDER BY LEAST(err_ge, err_lt), feature, x,
        |    CASE WHEN err_ge <= err_lt THEN 'ge' ELSE 'lt' END
        |  LIMIT 1)$reweight""".stripMargin
    }.mkString(",\n")
    prefix + ",\n" + stages
  }

  /** The BPE trainer's unrolled oracle stages: word states are
    * chr(1)/chr(2)-bracketed symbol strings (so adjacency is exact
    * string structure); stage k derives pair counts `pb k`, the
    * argmax `bk k`, and the merged state `st k` from `st k-1`. */
  private def bpeOracleStages: String = bpeOracleStagesWhere("")

  /** [[bpeOracleStages]] with an optional WHERE over `documents` —
    * the incremental oracle trains on the base corpus only. */
  private def bpeOracleStagesWhere(where: String): String = {
    val L = "chr(1)"
    val R = "chr(2)"
    val base = s"""bw AS (SELECT
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
       |      AS word
       |  FROM documents $where),
       |bwc AS (SELECT word, count(*)::BIGINT AS c FROM bw
       |  WHERE word <> '' GROUP BY 1),
       |st0 AS MATERIALIZED (SELECT word, c,
       |    array_to_string(list_transform(string_split(word, ''),
       |      x -> $L || x || $R), '') AS st
       |  FROM bwc)""".stripMargin
    val stages = (1 to bpeRounds).map { k =>
      s"""pb$k AS MATERIALIZED (SELECT l AS lhs, r AS rhs,
       |    CAST(sum(c) AS BIGINT) AS n
       |  FROM (SELECT c, tl[i] AS l, tl[i + 1] AS r
       |        FROM (SELECT c, tl, unnest(range(1, len(tl))) AS i
       |              FROM (SELECT c, string_split(substr(st, 2,
       |                      length(st) - 2), $R || $L) AS tl
       |                    FROM st${k - 1})))
       |  GROUP BY 1, 2),
       |bk$k AS MATERIALIZED (SELECT lhs, rhs, n FROM pb$k
       |  ORDER BY n DESC, lhs, rhs LIMIT 1),
       |st$k AS MATERIALIZED (SELECT word, c,
       |    CASE WHEN b.lhs IS NULL THEN st ELSE replace(st,
       |      $L || b.lhs || $R || $L || b.rhs || $R,
       |      $L || b.lhs || b.rhs || $R) END AS st
       |  FROM st${k - 1} LEFT JOIN bk$k b ON TRUE)""".stripMargin
    }
    (base +: stages).mkString(",\n")
  }

  private val shingleCte =
    s"""$wCte,
       |pos AS (SELECT doc_id, ws,
       |    unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
       |  FROM w),
       |sh AS (SELECT doc_id,
       |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       |  FROM pos)""".stripMargin

  /** Signature chain ending in `mh (doc_id, h1..h8)` + the banded
    * view `bands (doc_id, band, bv)` — the shared prefix of every
    * MinHash oracle. */
  private val sigBandsCte = {
    val mins = (1 to 8).map(j =>
      s"min(substring(h, ${(j - 1) * 8 + 1}, 8)) AS h$j").mkString(", ")
    val bandRows = (1 to 4).map(b =>
      s"SELECT doc_id, $b AS band, h${2 * b - 1} || h${2 * b} AS bv FROM mh")
      .mkString(" UNION ALL ")
    s"""$shingleCte,
       |hx AS (SELECT doc_id, sha256(s) AS h FROM sh),
       |mh AS (SELECT doc_id, $mins FROM hx GROUP BY doc_id),
       |bands AS ($bandRows)""".stripMargin
  }

  /** The salted intra-bucket pair chain of [[pairsFromBands]] over a
    * named bands relation, ending in `pairs (doc_a, doc_b)`. */
  private def saltedPairsCte(bandsRel: String): String =
    s"""bover AS (SELECT band, bv,
       |    (count(*) + ${maxLshBucket - 1}) // $maxLshBucket AS g
       |  FROM $bandsRel GROUP BY band, bv
       |  HAVING count(*) > $maxLshBucket),
       |bsalt AS (SELECT b.doc_id, b.band, b.bv,
       |    CASE WHEN o.g IS NULL THEN 0
       |         ELSE (${graft.functions.QuantileSketch
                        .rank60Sql("strpos", "b.hm")}) % o.g END AS salt
       |  FROM (SELECT doc_id, band, bv,
       |          md5(CAST(doc_id AS VARCHAR)) AS hm FROM $bandsRel) b
       |  LEFT JOIN bover o
       |    ON b.band = o.band AND b.bv = o.bv),
       |bsz AS (SELECT band, bv, salt FROM bsalt
       |  GROUP BY band, bv, salt
       |  HAVING count(*) BETWEEN 2 AND $maxLshBucket),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bsz s
       |  JOIN bsalt a ON a.band = s.band AND a.bv = s.bv
       |    AND a.salt = s.salt
       |  JOIN bsalt b ON b.band = s.band AND b.bv = s.bv
       |    AND b.salt = s.salt AND a.doc_id < b.doc_id)""".stripMargin

  private val minhashCte =
    s"""$sigBandsCte,
       |${saltedPairsCte("bands")}""".stripMargin

  /** DuckDB mirror of the clone-collapsed edge set
    * ([[clusterEdges]]) — assumes `mh` and `bands` from
    * [[sigBandsCte]] in scope; ends in `cedges (doc_a, doc_b)`.
    * Mirrored (like the salt itself) so both engines agree BY
    * CONSTRUCTION on any corpus: on a > cap clone bucket the salted
    * clique splits a group the stars keep whole, so the clique and
    * collapsed spellings diverge exactly when the guard fires —
    * which is the point of the collapse. */
  private val clusterEdgesCte = {
    val sk = (1 to 8).map(j => s"h$j").mkString(" || ")
    s"""reps AS (SELECT $sk AS sk, min(doc_id) AS rep
       |  FROM mh GROUP BY 1),
       |stars AS (SELECT r.rep AS doc_a, m.doc_id AS doc_b
       |  FROM (SELECT doc_id, $sk AS sk FROM mh) m
       |  JOIN reps r ON m.sk = r.sk
       |  WHERE m.doc_id <> r.rep),
       |rbands AS (SELECT b.doc_id, b.band, b.bv FROM bands b
       |  JOIN reps r ON b.doc_id = r.rep),
       |${saltedPairsCte("rbands")},
       |cedges AS (SELECT doc_a, doc_b FROM stars
       |  UNION ALL SELECT doc_a, doc_b FROM pairs)""".stripMargin
  }

  /** DuckDB replica of the deterministic Bloom build+probe in
    * [[computeBloomFlagged]] — same md5-rank positions, same 62-bit
    * words, ending in CTE `bres` (doc_id, n_bloom_5grams,
    * n_exact_5grams). */
  private val bloomCte = {
    val (haSql, hbSql) = bloomABSql("strpos")
    val hpRows = (1 to bloomK)
      .map(j => s"SELECT (ha + $j * hb) % $bloomBits AS p FROM hab")
      .mkString(" UNION ALL ")
    val pCols = (1 to bloomK)
      .map(j => s"(ha + $j * hb) % $bloomBits AS p$j").mkString(", ")
    val joins = (1 to bloomK)
      .map(j => s"LEFT JOIN bloom b$j ON b$j.word = tp.p$j // $bloomWordBits")
      .mkString(" ")
    val bitTests = (1 to bloomK)
      .map(j => s"((coalesce(b$j.bits, 0) >> CAST(tp.p$j % $bloomWordBits " +
        s"AS INT)) & 1) = 1")
      .mkString(" AND ")
    s"""$wCte,
       |pos AS (SELECT doc_id, ws,
       |    unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS i
       |  FROM w),
       |g AS (SELECT DISTINCT doc_id,
       |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
       |    ws[i+3] || ' ' || ws[i+4] AS g
       |  FROM pos),
       |heldout AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
       |hh AS (SELECT md5(g) AS h FROM heldout),
       |hab AS (SELECT $haSql AS ha, $hbSql AS hb FROM hh),
       |hp AS ($hpRows),
       |bloom AS (SELECT p // $bloomWordBits AS word,
       |    bit_or(1::BIGINT << CAST(p % $bloomWordBits AS INT)) AS bits
       |  FROM hp GROUP BY 1),
       |t AS (SELECT doc_id, g, md5(g) AS h
       |  FROM g WHERE doc_id % 97 <> 0),
       |tab AS (SELECT doc_id, g, $haSql AS ha, $hbSql AS hb FROM t),
       |tp AS (SELECT doc_id, g, $pCols FROM tab),
       |probe AS (SELECT tp.doc_id, tp.g FROM tp
       |  $joins
       |  WHERE $bitTests),
       |bflag AS (SELECT doc_id, count(*) AS n_bloom_5grams
       |  FROM probe GROUP BY 1),
       |exact AS (SELECT g.doc_id, count(*) AS n_exact FROM g
       |  JOIN heldout h ON g.g = h.g
       |  WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id),
       |bres AS (SELECT b.doc_id, b.n_bloom_5grams,
       |    coalesce(e.n_exact, 0) AS n_exact_5grams
       |  FROM bflag b LEFT JOIN exact e ON b.doc_id = e.doc_id)""".stripMargin
  }

  // Exactness bound for every list_inner_product-based oracle below:
  // DuckDB's list_inner_product computes in DOUBLE, so the
  // cast-to-BIGINT agrees with the engine's integer arithmetic only
  // while every partial sum stays below 2^53 (doubles represent all
  // integers up to 2^53 exactly, and integer-valued partial sums
  // accumulate exactly in that range). The fixture guarantees a wide
  // margin: embeddings are 64-dim with |x| < 0.6, so |qv_i| ≤ 600
  // and |qv·qv'| ≤ 64 · 600² ≈ 2.4e7 ≪ 2^53 ≈ 9.0e15; k-means
  // centroids are coordinate MEANS of such vectors (then floored to
  // ints), so centroid products obey the same bound.
  private val quantCte =
    """v AS (SELECT vec_id,
      |  list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings)""".stripMargin

  /** Shared oracle CTE chain ending in `codes(vec_id, c1..c4)` — the
    * PQ code assignment used by both llm_pq_codes and
    * llm_pq_adc_topk (assumes `v` from [[quantCte]] in scope). */
  private lazy val pqCodesCte: String = {
    val subs = (1 to pqSub).map { j =>
      val lo = (j - 1) * pqDim + 1
      val hi = j * pqDim
      s"""s$j AS (SELECT v.vec_id, c.cid,
         |    CAST(list_inner_product(CAST(v.qv[$lo:$hi] AS DOUBLE[]),
         |      CAST(c.cv[$lo:$hi] AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM v, cent c),
         |r$j AS (SELECT vec_id, cid AS c$j FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY ip DESC, cid) AS rn FROM s$j)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val joins = (1 to pqSub)
      .map(j => s"JOIN r$j ON v.vec_id = r$j.vec_id").mkString("\n  ")
    s"""cent AS (SELECT CAST(vec_id AS INT) AS cid, qv AS cv FROM v
       |  WHERE vec_id < $nCentroids),
       |$subs,
       |codes AS (SELECT v.vec_id,
       |    ${(1 to pqSub).map(j => s"r$j.c$j").mkString(", ")}
       |  FROM v
       |  $joins)""".stripMargin
  }

  /** Shared oracle CTE chain ending in `sc(q_id, vec_id, adc_ip)` —
    * the PQ asymmetric-distance scores (assumes `v` + `codes` in
    * scope); used by llm_pq_adc_topk and llm_pq_recall. */
  private lazy val pqAdcScoreCte: String = {
    val lutSel = (1 to pqSub).map { j =>
      val lo = (j - 1) * pqDim + 1
      val hi = j * pqDim
      s"""SELECT q.q_id, $j AS j, c.cid,
         |    CAST(list_inner_product(CAST(q.qvec[$lo:$hi] AS DOUBLE[]),
         |      CAST(c.cv[$lo:$hi] AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM q, cent c""".stripMargin
    }.mkString("\nUNION ALL\n")
    val codesLong = (1 to pqSub).map(j =>
      s"SELECT vec_id, $j AS j, c$j AS cid FROM codes")
      .mkString(" UNION ALL ")
    s"""q AS (SELECT vec_id AS q_id, qv AS qvec FROM v
       |  WHERE vec_id IN $qIdList),
       |lut AS ($lutSel),
       |cl AS ($codesLong),
       |sc AS (SELECT l.q_id, cl.vec_id,
       |    CAST(sum(l.ip) AS BIGINT) AS adc_ip
       |  FROM cl JOIN lut l ON l.j = cl.j AND l.cid = cl.cid
       |  WHERE cl.vec_id <> l.q_id GROUP BY 1, 2)""".stripMargin
  }

  private val bucketCte = {
    val bits = (1 to 8).map(i =>
      s"(CASE WHEN qv[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")
    s"""$quantCte,
       |bv AS (SELECT vec_id, qv, $bits AS bucket FROM v)""".stripMargin
  }

  /** Shared oracle CTE chain for the IVFPQ fusion, ending in
    * `fsc(q_id, vec_id, ip)` — coarse sample centroids, the
    * assignment argmax, INTEGER residuals (unnest → subtract →
    * relist), per-subspace residual codebooks + codes, the
    * nprobe-ranked probed lists and the fused
    * list_ip + Σ LUT score (assumes `v` from [[quantCte]] in
    * scope). Used by llm_ivfpq_topk and llm_ivfpq_recall. */
  private lazy val ivfpqCte: String = {
    val subsCodes = (1 to pqSub).map { j =>
      val lo = (j - 1) * pqDim + 1
      val hi = j * pqDim
      s"""fs$j AS (SELECT r.vec_id, c.rcid,
         |    CAST(list_inner_product(CAST(r.rv[$lo:$hi] AS DOUBLE[]),
         |      CAST(c.rv[$lo:$hi] AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM fres r, frcent c),
         |fr$j AS (SELECT vec_id, rcid AS c$j FROM (
         |    SELECT vec_id, rcid, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY ip DESC, rcid) AS rn
         |    FROM fs$j)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 to pqSub)
      .map(j => s"JOIN fr$j ON r.vec_id = fr$j.vec_id")
      .mkString("\n  ")
    val lutSel = (1 to pqSub).map { j =>
      val lo = (j - 1) * pqDim + 1
      val hi = j * pqDim
      s"""SELECT q.q_id, $j AS j, c.rcid,
         |    CAST(list_inner_product(CAST(q.qvec[$lo:$hi] AS DOUBLE[]),
         |      CAST(c.rv[$lo:$hi] AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM fq q, frcent c""".stripMargin
    }.mkString("\nUNION ALL\n")
    val codesLong = (1 to pqSub).map(j =>
      s"SELECT vec_id, cid, $j AS j, c$j AS rcid FROM fcodes")
      .mkString(" UNION ALL ")
    s"""fcent AS (SELECT CAST(vec_id AS INT) AS cid, qv AS cv FROM v
       |  WHERE vec_id < $nCentroids),
       |fsc0 AS (SELECT v.vec_id, v.qv, c.cid,
       |    CAST(list_inner_product(CAST(v.qv AS DOUBLE[]),
       |      CAST(c.cv AS DOUBLE[])) AS BIGINT) AS ip
       |  FROM v, fcent c),
       |fasg AS (SELECT vec_id, qv, cid FROM (
       |    SELECT vec_id, qv, cid, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY ip DESC, cid) AS rn
       |    FROM fsc0)
       |  WHERE rn = 1),
       |fru AS (SELECT a.vec_id, a.cid, unnest(a.qv) AS x,
       |    unnest(c.cv) AS y,
       |    unnest(generate_series(1, len(a.qv))) AS j
       |  FROM fasg a JOIN fcent c ON a.cid = c.cid),
       |fres AS (SELECT vec_id, cid, list(x - y ORDER BY j) AS rv
       |  FROM fru GROUP BY 1, 2),
       |frcent AS (SELECT CAST(vec_id AS INT) AS rcid, rv FROM fres
       |  WHERE vec_id < $nCentroids),
       |$subsCodes,
       |fcodes AS (SELECT r.vec_id, r.cid,
       |    ${(1 to pqSub).map(j => s"fr$j.c$j").mkString(", ")}
       |  FROM fres r
       |  $codeJoins),
       |fq AS (SELECT vec_id AS q_id, qv AS qvec FROM v
       |  WHERE vec_id IN $qIdList),
       |fcl AS (SELECT q.q_id, c.cid,
       |    CAST(list_inner_product(CAST(q.qvec AS DOUBLE[]),
       |      CAST(c.cv AS DOUBLE[])) AS BIGINT) AS cip
       |  FROM fq q, fcent c),
       |fpl AS (SELECT q_id, cid, cip FROM (
       |    SELECT q_id, cid, cip, ROW_NUMBER() OVER (
       |      PARTITION BY q_id ORDER BY cip DESC, cid) AS rn
       |    FROM fcl)
       |  WHERE rn <= $ivfpqProbe),
       |flut AS ($lutSel),
       |fcodl AS ($codesLong),
       |fadc AS (SELECT l.q_id, cl.vec_id, cl.cid,
       |    CAST(sum(l.ip) AS BIGINT) AS adc
       |  FROM fcodl cl JOIN flut l
       |    ON l.j = cl.j AND l.rcid = cl.rcid
       |  GROUP BY 1, 2, 3),
       |fsc AS (SELECT p.q_id, a.vec_id, p.cip + a.adc AS ip
       |  FROM fpl p JOIN fadc a
       |    ON a.cid = p.cid AND a.q_id = p.q_id
       |    AND a.vec_id <> p.q_id)""".stripMargin
  }

  private val qIdList = queryIds.mkString("(", ", ", ")")

  /** Centroids + nearest-centroid assignment CTEs (mirrors
    * [[centroids]]/[[assigned]]: max ip, ties to smallest cid). */
  private val ivfCte =
    s"""$quantCte,
       |cent AS (SELECT CAST(vec_id AS INT) AS cid, qv AS cv FROM v
       |  WHERE vec_id < $nCentroids),
       |sc AS (SELECT v.vec_id, v.qv, c.cid,
       |    CAST(list_inner_product(CAST(v.qv AS DOUBLE[]),
       |      CAST(c.cv AS DOUBLE[])) AS BIGINT) AS ip
       |  FROM v, cent c),
       |asg AS (SELECT vec_id, qv, cid FROM (
       |    SELECT vec_id, qv, cid, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY ip DESC, cid) AS rn FROM sc)
       |  WHERE rn = 1)""".stripMargin

  /** Unrolled Lloyd rounds for the oracle (assumes `v` from
    * [[quantCte]] in scope). Mirrors [[computeKmeans]]: `cent0` is
    * the deterministic sample; each round re-assigns (max ip, ties
    * to smallest cid) and re-means with truncating integer division;
    * ends with `cent$kmIters` (cid, n_vecs, cv) and `kasg` = the
    * corpus assigned to the final centroids. The FIXED round count is
    * the whole trick: the Spark loop may exit early at a fixpoint,
    * and a fixpoint reproduces itself, so capped-unroll == early-exit
    * bit-for-bit. */
  /** The capped-Lloyd replay over ANY base table `base` (vec_id,
    * qv), CTE names prefixed `p` so two trainings can coexist in
    * one query (the stored ANN index trains on the INDEX corpus
    * only — `p = "i"` — while the default chain trains on the full
    * corpus). Ends with `${p}cent$kmIters` and `${p}kasg`. */
  private def kmeansCteOver(base: String, p: String): String = {
    val rounds = (1 to kmIters).map { i =>
      s"""${p}ks$i AS (SELECT v.vec_id, v.qv, c.cid,
         |    CAST(list_inner_product(CAST(v.qv AS DOUBLE[]),
         |      CAST(c.cv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM $base AS v, ${p}cent${i - 1} c),
         |${p}ka$i AS (SELECT vec_id, qv, cid FROM (
         |    SELECT vec_id, qv, cid, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY ip DESC, cid) AS rn
         |    FROM ${p}ks$i)
         |  WHERE rn = 1),
         |${p}kd$i AS (SELECT cid, unnest(qv) AS x,
         |    unnest(generate_series(1, len(qv))) AS j FROM ${p}ka$i),
         |${p}km$i AS (SELECT cid, j, CAST(sum(x) AS BIGINT) AS sx
         |  FROM ${p}kd$i GROUP BY cid, j),
         |${p}kn$i AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
         |  FROM ${p}ka$i GROUP BY cid),
         |${p}cent$i AS (SELECT m.cid, n.n_vecs,
         |    list(m.sx // n.n_vecs ORDER BY m.j) AS cv
         |  FROM ${p}km$i m JOIN ${p}kn$i n ON m.cid = n.cid
         |  GROUP BY m.cid, n.n_vecs)""".stripMargin
    }.mkString(",\n")
    s"""${p}cent0 AS (SELECT CAST(vec_id AS INT) AS cid, qv AS cv
       |  FROM $base AS v WHERE vec_id < $nCentroids),
       |$rounds,
       |${p}kfs AS (SELECT v.vec_id, v.qv, c.cid,
       |    CAST(list_inner_product(CAST(v.qv AS DOUBLE[]),
       |      CAST(c.cv AS DOUBLE[])) AS BIGINT) AS ip
       |  FROM $base AS v, ${p}cent$kmIters c),
       |${p}kasg AS (SELECT vec_id, qv, cid FROM (
       |    SELECT vec_id, qv, cid, ROW_NUMBER() OVER (
       |      PARTITION BY vec_id ORDER BY ip DESC, cid) AS rn
       |    FROM ${p}kfs)
       |  WHERE rn = 1)""".stripMargin
  }

  private lazy val kmeansCte: String = kmeansCteOver("v", "")

  /** DuckDB replica of [[semanticAssigned]] over the converged
    * assignment `kasg`: per-cluster min-id rep, exact integer cosine
    * gate in HUGEINT (the Spark side uses DECIMAL(38,0) — both are
    * exact at these magnitudes, ≤ 22 digits). Ends in `semv`
    * (vec_id, cid, rep_id, sem_dup). */
  private lazy val semCte =
    s"""reps AS (SELECT cid, min(vec_id) AS rep_id FROM kasg GROUP BY cid),
       |repv AS (SELECT r.cid, r.rep_id, a.qv AS rv
       |  FROM reps r JOIN kasg a ON a.vec_id = r.rep_id),
       |sem AS (SELECT a.vec_id, a.cid, p.rep_id,
       |    CAST(list_inner_product(CAST(a.qv AS DOUBLE[]),
       |      CAST(p.rv AS DOUBLE[])) AS BIGINT) AS ip,
       |    CAST(list_inner_product(CAST(a.qv AS DOUBLE[]),
       |      CAST(a.qv AS DOUBLE[])) AS BIGINT) AS na2,
       |    CAST(list_inner_product(CAST(p.rv AS DOUBLE[]),
       |      CAST(p.rv AS DOUBLE[])) AS BIGINT) AS nb2
       |  FROM kasg a JOIN repv p ON a.cid = p.cid),
       |semv AS (SELECT vec_id, cid, rep_id,
       |    (vec_id <> rep_id AND ip > 0 AND
       |     CAST(ip AS HUGEINT) * ip * 1000000 >
       |     CAST($semDedupT2 AS HUGEINT) * na2 * nb2) AS sem_dup
       |  FROM sem)""".stripMargin

  /** The dHash lane's shared replay CTE chain (`WITH … fp`): rebuild
    * the PNG hex per attachment, read gray samples positionally,
    * re-derive cells → comparison bits → packed 32-bit halves. Both
    * `mm_dhash` and `mm_image_neardup` select from its final `fp`. */
  /** The shared construct→positional-pixel-replay chain of the
    * decoded-luma lane: rebuilds each attachment's gray PNG hex in
    * DuckDB and reads every sample positionally out of the
    * stored-mode deflate stream — `px(doc_id, w0, h0, x, y, pv)`.
    * Consumed by the dHash fingerprint replay AND the 4×4
    * feature-vector replay. */
  private lazy val lumaPxCte: String = {
    import graft.multimodal.ImageHex._
    val pixel = dhashPixel("doc_id % 5")
    val pv = byteAt("hs", s"$PngRawPos + 2 * (y * (1 + w0) + 1 + x)",
      "strpos")
    s"""WITH t AS (SELECT doc_id,
       |    CAST(doc_id % 12 AS INT) AS b0,
       |    CAST((doc_id // 12) % 4 AS INT) AS v0
       |  FROM documents WHERE doc_id % 23 = 0),
       |dm AS (SELECT doc_id, b0, v0,
       |    CAST(12 + b0 % 5 AS INT) AS w0,
       |    CAST(9 + b0 % 4 AS INT) AS h0
       |  FROM t),
       |bl AS (SELECT doc_id, w0, h0,
       |    hex(from_hex(${pngGrayFileHex("w0", "h0", pixel, "//",
              seqJoinDuck)})) AS hs
       |  FROM dm),
       |px0 AS (SELECT doc_id, w0, h0, hs,
       |    unnest(range(0, CAST(w0 * h0 AS BIGINT))) AS k
       |  FROM bl),
       |px AS (SELECT doc_id, w0, h0,
       |    CAST(k % w0 AS INT) AS x, CAST(k // w0 AS INT) AS y,
       |    $pv AS pv
       |  FROM px0)""".stripMargin
  }

  private lazy val dhashOracleCte: String =
    lumaPxCte + s""",
       |cells AS (SELECT doc_id, w0, h0,
       |    (9 * x) // w0 AS i, (8 * y) // h0 AS j,
       |    SUM(pv) AS s, COUNT(*) AS c
       |  FROM px GROUP BY 1, 2, 3, 4, 5),
       |bits AS (SELECT l.doc_id, l.w0, l.h0, l.j, l.i,
       |    CASE WHEN l.s * r.c > r.s * l.c THEN 1 ELSE 0 END AS bit
       |  FROM cells l JOIN cells r
       |    ON l.doc_id = r.doc_id AND l.j = r.j AND r.i = l.i + 1
       |  WHERE l.i < 8),
       |fp AS (SELECT doc_id,
       |    CAST(MAX(w0) AS INT) AS width,
       |    CAST(MAX(h0) AS INT) AS height,
       |    CAST(SUM(CASE WHEN j < 4
       |      THEN bit * (CAST(1 AS BIGINT) << CAST(j * 8 + i AS INT))
       |      ELSE 0 END) AS BIGINT) AS dh_hi,
       |    CAST(SUM(CASE WHEN j >= 4
       |      THEN bit * (CAST(1 AS BIGINT) << CAST((j - 4) * 8 + i AS INT))
       |      ELSE 0 END) AS BIGINT) AS dh_lo
       |  FROM bits GROUP BY 1)""".stripMargin

  /** The BM25 full-corpus replay, shared by `llm_bm25_topk` AND
    * `llm_bm25_incremental` — for the incremental row the shared
    * oracle IS the contract: stored-base + delta must equal the
    * full rebuild. */
  private lazy val bm25OracleSql: String = {
    val values = bm25QuerySet
      .flatMap { case (id, ts) => ts.map(t => s"($id, '$t')") }
      .mkString(", ")
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
       |      AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |  FROM tf GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS s_len FROM dl),
       |q(query_id, term) AS (VALUES $values),
       |post AS (SELECT q.query_id, tf.doc_id, tf.term, tf.tf
       |  FROM tf JOIN q ON tf.term = q.term),
       |dfq AS (SELECT term,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM post GROUP BY 1),
       |ts AS (SELECT post.query_id, post.doc_id,
       |    CAST((1000000 * (2 * (st.n_docs - dfq.df) + 1)
       |        * (44 * CAST(st.s_len AS HUGEINT) * post.tf))
       |      // ((2 * dfq.df + 1)
       |        * (20 * CAST(st.s_len AS HUGEINT) * post.tf
       |           + 6 * st.s_len + 18 * dl.dl * st.n_docs))
       |      AS BIGINT) AS t6
       |  FROM post JOIN dl ON post.doc_id = dl.doc_id
       |  JOIN dfq ON post.term = dfq.term CROSS JOIN st),
       |sc AS (SELECT query_id, doc_id,
       |    CAST(sum(t6) AS BIGINT) AS score_x1e6
       |  FROM ts GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score_x1e6,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_x1e6 DESC, doc_id ASC) AS INT) AS rank
       |  FROM sc)
       |SELECT CAST(query_id AS INT) AS query_id, doc_id, rank,
       |  score_x1e6
       |FROM r WHERE rank <= 10""".stripMargin
  }

  /** The count1 quadruple census replayed in closed form from
    * doc_id — shared verbatim by the table-1 and table-A lanes
    * (the coding table moves bit widths, never values). */
  private val count1CensusSql: String =
    """WITH t AS (SELECT doc_id,
            |    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS nch
            |  FROM documents),
            |tg AS (SELECT *, unnest([0, 1]) AS g FROM t),
            |gc AS (SELECT doc_id, g, unnest(range(0, nch)) AS c
            |  FROM tg),
            |qd AS (SELECT doc_id, g, c,
            |    unnest(range(0, (doc_id + g * 3 + c * 5) % 20)) AS q
            |  FROM gc),
            |qk AS (SELECT doc_id, q,
            |    (doc_id + q * 7 + g + c) % 16 AS pat,
            |    unnest([0, 1, 2, 3]) AS k
            |  FROM qd),
            |vals AS (SELECT doc_id,
            |    (pat >> (3 - k)) & 1 AS bit,
            |    CASE WHEN (pat >> (3 - k)) & 1 = 1 THEN
            |      CASE WHEN (doc_id + q + k) % 2 = 1 THEN -1 ELSE 1 END
            |      ELSE 0 END AS v
            |  FROM qk),
            |per AS (SELECT doc_id,
            |    CAST(SUM(bit) AS BIGINT) AS n_nonzero,
            |    CAST(SUM(CASE WHEN v = -1 THEN 1 ELSE 0 END) AS BIGINT)
            |      AS n_neg,
            |    CAST(SUM(v) AS BIGINT) AS sum_vals
            |  FROM vals GROUP BY 1),
            |nq AS (SELECT doc_id,
            |    CAST(SUM((doc_id + g * 3 + c * 5) % 20) AS BIGINT)
            |      AS n_quads
            |  FROM gc GROUP BY 1)
            |SELECT doc_id, n_quads, n_nonzero, n_neg, sum_vals
            |FROM nq JOIN per USING (doc_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // CDC oracles share the engine's exact unrolled boundary-hash
    // arithmetic (generated by the same fold — they cannot drift)
    // but restate chunk assembly independently in SQL
    "llm_cdc_chunks" -> CdcChunks.chunksOracleSelect,
    "llm_cdc_dedup" -> CdcChunks.dedupOracleSelect,
    "llm_cdc_incremental" -> CdcChunks.dedupIncrementalOracleSelect,

    // Suffix-array family oracles. The engine never materializes the
    // corpus string or compares substrings (prefix-doubling rank
    // tables only); the oracle does EXACTLY that — it builds each
    // position's 32-char window from the document text plus a
    // one-document lookahead (sound here because min doc length ≥ 31,
    // so a window crosses at most one 0x01 sentinel) and sorts the
    // actual strings. DuckDB string order is binary UTF-8 order =
    // codepoint order, matching the engine's depth-1 codepoint ranks.
    "llm_suffix_array" ->
      """WITH docs AS (
        |  SELECT doc_id, text,
        |         coalesce(sum(length(text) + 1) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off,
        |         text || chr(1) ||
        |           coalesce(lead(text) OVER (ORDER BY doc_id), '') AS ext
        |  FROM documents),
        |pos AS (
        |  -- per-row scan bound from the document's own length
        |  -- (range stop is exclusive): no silent cap to outrun
        |  SELECT t.doc_id, t.i::BIGINT AS lpos,
        |         (t.off + t.i - 1)::BIGINT AS gpos,
        |         substr(t.ext, t.i::INT, 32) AS p32
        |  FROM (SELECT doc_id, off, ext,
        |          unnest(range(1, length(text) + 2)) AS i
        |        FROM docs) t),
        |ranked AS (
        |  SELECT doc_id, lpos,
        |         row_number() OVER (ORDER BY p32, gpos) - 1 AS sa_rank
        |  FROM pos)
        |SELECT sa_rank, doc_id, lpos FROM ranked
        |WHERE sa_rank % 199 = 0""".stripMargin,

    // ExactSubstr truth: group the REAL 32-grams, keep positions
    // whose gram occurs more than once anywhere, merge runs into
    // maximal spans by the islands trick.
    "llm_exact_substr" ->
      """WITH grams AS (
        |  SELECT t.doc_id, t.i::BIGINT AS lpos,
        |         substr(t.text, t.i::INT, 32) AS g
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, length(text) - 30)) AS i
        |        FROM documents) t),
        |dup AS (
        |  SELECT doc_id, lpos
        |  FROM (SELECT doc_id, lpos,
        |               count(*) OVER (PARTITION BY g) AS c FROM grams)
        |  WHERE c > 1),
        |isl AS (
        |  SELECT doc_id, lpos,
        |         lpos - row_number() OVER (PARTITION BY doc_id
        |           ORDER BY lpos) AS grp
        |  FROM dup)
        |SELECT doc_id, min(lpos) AS span_start,
        |       max(lpos) - min(lpos) + 32 AS span_len
        |FROM isl GROUP BY doc_id, grp""".stripMargin,

    // LCP truth: sort the actual 32-char windows, then for each
    // adjacent pair take the largest k ≤ 32 with equal k-prefixes.
    "llm_sa_lcp" ->
      """WITH docs AS (
        |  SELECT doc_id, text,
        |         coalesce(sum(length(text) + 1) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off,
        |         text || chr(1) ||
        |           coalesce(lead(text) OVER (ORDER BY doc_id), '') AS ext
        |  FROM documents),
        |pos AS (
        |  SELECT (t.off + t.i - 1)::BIGINT AS gpos,
        |         substr(t.ext, t.i::INT, 32) AS p32
        |  FROM (SELECT off, ext,
        |          unnest(range(1, length(text) + 2)) AS i
        |        FROM docs) t),
        |ranked AS (
        |  SELECT p32, row_number() OVER (ORDER BY p32, gpos) AS rn
        |  FROM pos),
        |pairs AS (
        |  SELECT a.rn, a.p32 AS pa, b.p32 AS pb
        |  FROM ranked a JOIN ranked b ON b.rn = a.rn + 1),
        |plcp AS (
        |  SELECT p.rn, max(g.k)::BIGINT AS lcp
        |  FROM pairs p JOIN generate_series(0, 32) g(k)
        |    ON substr(p.pa, 1, g.k::INT) = substr(p.pb, 1, g.k::INT)
        |  GROUP BY p.rn)
        |SELECT lcp, count(*) AS n_pairs FROM plcp GROUP BY lcp""".stripMargin,
    // Golden-fixture oracle (see compressRatio's doc): DuckDB cannot
    // recompute a zlib byte stream, so it reads the independently-
    // replayed golden parquet and re-derives the verdicts
    // relationally. The (doc_id, sha256(text)) join key self-selects
    // the matching snapshot's golden rows out of the glob; DISTINCT
    // collapses identical cross-snapshot matches (the ratio is a
    // pure function of the text). The glob is absolute, so DuckDB's
    // working directory is irrelevant.
    "llm_compress_ratio" -> {
      val glob =
        s"${SnapshotMemo.storedRoot}/*/compress-golden/*.parquet"
      s"""SELECT DISTINCT d.doc_id, g.ratio_x1000,
         |  CASE WHEN d.text IS NULL THEN 'null'
         |       WHEN length(d.text) = 0 THEN 'empty'
         |       WHEN g.ratio_x1000 < 300 THEN 'repetitive'
         |       ELSE 'ok' END AS verdict
         |FROM documents d
         |LEFT JOIN read_parquet('$glob') g
         |  ON d.doc_id = g.doc_id AND sha256(d.text) = g.text_sha""".stripMargin
    },

    "llm_dedup_exact" ->
      s"""WITH $wCte
         |SELECT sha256(array_to_string(ws, ' ')) AS dedup_key,
         |  min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM w GROUP BY 1""".stripMargin,

    // the scaled conditional-frequency arithmetic replayed: integer
    // div both per-pair and at the doc mean, sums cast off HUGEINT
    "llm_bigram_fluency" ->
      s"""WITH $wCte,
         |bp AS (SELECT doc_id, ws[t.i] AS w1,
         |    ws[t.i] || ' ' || ws[t.i + 1] AS bg
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
         |        FROM w) t(doc_id, ws, i)),
         |cb AS (SELECT bg, count(*) AS cb FROM bp GROUP BY 1),
         |cu AS (SELECT w1, count(*) AS cu FROM bp GROUP BY 1)
         |SELECT doc_id, count(*) AS n_pairs,
         |  (CAST(sum((1000000 * cb.cb) // cu.cu) AS BIGINT))
         |    // count(*) AS fluency
         |FROM bp JOIN cb USING (bg) JOIN cu USING (w1)
         |GROUP BY doc_id""".stripMargin,

    // per-word substring walk + the same (count desc, pair) ordering
    "llm_bpe_pairs" ->
      s"""WITH $wCte,
         |wd AS (SELECT unnest(ws) AS word FROM w),
         |p AS (SELECT substr(t.word, t.i::INT, 2) AS pair
         |  FROM (SELECT word, unnest(range(1, length(word))) AS i
         |        FROM wd) t)
         |SELECT pair, count(*) AS n FROM p
         |GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    // the full training loop replayed UNROLLED, one stage per merge
    // round: each stage re-counts adjacent pairs from the previous
    // stage's word states (chr(1)/chr(2)-bracketed symbol strings),
    // picks the (n DESC, lhs, rhs) argmax, and applies the merge via
    // left-to-right non-overlapping string replace — the exact greedy
    // semantics of the engine's array fold. A trainer that
    // mis-counts, breaks ties differently, or merges non-greedily
    // diverges at the first wrong stage.
    "llm_bpe_vocab" ->
      s"""WITH $bpeOracleStages
         |${(1 to bpeRounds).map(k =>
             s"SELECT CAST($k AS INT) AS merge_rank, lhs, rhs, " +
               s"lhs || rhs AS merged, n AS n_at_merge FROM bk$k")
             .mkString("\nUNION ALL\n")}""".stripMargin,

    "llm_bpe_apply" ->
      s"""WITH $bpeOracleStages
         |SELECT token, CAST(sum(c) AS BIGINT) AS n_occ,
         |  CAST(count(DISTINCT word) AS BIGINT) AS n_words
         |FROM (SELECT word, c, unnest(string_split(
         |    substr(st, 2, length(st) - 2), chr(2) || chr(1)))
         |    AS token
         |  FROM st$bpeRounds)
         |GROUP BY 1""".stripMargin,

    // frozen-merge inference replayed: the base training unrolls as
    // usual (arriving shard EXCLUDED), then each learned merge
    // applies in rank order to the arriving words' symbol strings —
    // a trainer that leaks arriving text into the merges, or an
    // applier that reorders them, diverges
    "llm_bpe_incremental" -> {
      val arChain = (1 to bpeRounds).map { k =>
        s"""ar$k AS MATERIALIZED (SELECT word, c,
           |    CASE WHEN b.lhs IS NULL THEN st ELSE replace(st,
           |      chr(1) || b.lhs || chr(2) || chr(1) || b.rhs || chr(2),
           |      chr(1) || b.lhs || b.rhs || chr(2)) END AS st
           |  FROM ar${k - 1} LEFT JOIN bk$k b ON TRUE)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${bpeOracleStagesWhere(
             s"WHERE NOT ($arrivingShardPred)")},
         |aw AS (SELECT
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
         |      AS word
         |  FROM documents WHERE $arrivingShardPred),
         |awc AS (SELECT word, count(*)::BIGINT AS c FROM aw
         |  WHERE word <> '' GROUP BY 1),
         |ar0 AS (SELECT word, c,
         |    array_to_string(list_transform(string_split(word, ''),
         |      x -> chr(1) || x || chr(2)), '') AS st
         |  FROM awc),
         |$arChain
         |SELECT token, CAST(sum(c) AS BIGINT) AS n_occ,
         |  CAST(count(DISTINCT word) AS BIGINT) AS n_words
         |FROM (SELECT word, c, unnest(string_split(
         |    substr(st, 2, length(st) - 2), chr(2) || chr(1)))
         |    AS token
         |  FROM ar$bpeRounds)
         |GROUP BY 1""".stripMargin
    },

    // independent greedy-longest-match replay: the same derived
    // vocabulary (top-48 grams by (n DESC, g ASC) + every char),
    // then a recursive CTE walks each distinct word with an
    // anti-join picking the longest matching vocab entry — a Spark
    // walk that prefers a shorter match, mis-advances the cursor,
    // or derives a different vocabulary hash-mismatches
    "llm_wordpiece_tokens" ->
      s"""WITH words AS (SELECT
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
         |      AS w FROM documents),
         |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words
         |  WHERE w != '' GROUP BY 1),
         |glen AS (SELECT w, c, unnest([2, 3, 4]) AS l FROM wc),
         |gpos AS (SELECT w, c, l,
         |    unnest(range(1, CAST(length(w) - l + 2 AS BIGINT))) AS p
         |  FROM glen WHERE length(w) >= l),
         |gcnt AS (SELECT substring(w, CAST(p AS INT), CAST(l AS INT))
         |    AS g, SUM(c) AS n FROM gpos GROUP BY 1),
         |topg AS (SELECT g FROM gcnt ORDER BY n DESC, g ASC LIMIT 48),
         |cpos AS (SELECT w,
         |    unnest(range(1, CAST(length(w) + 1 AS BIGINT))) AS p
         |  FROM wc),
         |chars AS (SELECT DISTINCT substring(w, CAST(p AS INT), 1)
         |    AS g FROM cpos),
         |vocab AS (SELECT g FROM topg UNION SELECT g FROM chars),
         |tok AS (
         |  WITH RECURSIVE steps(w, pos, tok) AS (
         |    SELECT w, 1, CAST(NULL AS VARCHAR) FROM wc
         |    UNION ALL
         |    SELECT s.w, CAST(s.pos + length(v.g) AS INT), v.g
         |    FROM steps s JOIN vocab v
         |      ON v.g = substring(s.w, s.pos, length(v.g))
         |    WHERE s.pos <= length(s.w)
         |      AND NOT EXISTS (SELECT 1 FROM vocab v2
         |        WHERE length(v2.g) > length(v.g)
         |          AND v2.g = substring(s.w, s.pos, length(v2.g)))
         |  )
         |  SELECT w, tok FROM steps WHERE tok IS NOT NULL)
         |SELECT t.tok AS token, CAST(SUM(wc.c) AS BIGINT) AS n_occ,
         |  CAST(COUNT(DISTINCT t.w) AS BIGINT) AS n_words
         |FROM tok t JOIN wc ON wc.w = t.w
         |GROUP BY 1""".stripMargin,

    // exhaustive-enumeration replay of the unigram Viterbi DP: a
    // recursive CTE walks EVERY segmentation of every distinct word
    // against the weighted vocabulary and selects the (token count,
    // -freqsum, reversed-length-key) minimum — the engine's DP must
    // realize the same global optimum and canonical tie-break
    "llm_unigram_tokens" ->
      s"""WITH words AS (SELECT
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
         |      AS w FROM documents),
         |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words
         |  WHERE w != '' GROUP BY 1),
         |glen AS (SELECT w, c, unnest([1, 2, 3, 4]) AS l FROM wc),
         |gpos AS (SELECT w, c, l,
         |    unnest(range(1, CAST(length(w) - l + 2 AS BIGINT))) AS p
         |  FROM glen WHERE length(w) >= l),
         |gcnt AS (SELECT substring(w, CAST(p AS INT), CAST(l AS INT))
         |    AS g, CAST(SUM(c) AS BIGINT) AS n FROM gpos GROUP BY 1),
         |topg AS (SELECT g, n FROM gcnt WHERE length(g) >= 2
         |  ORDER BY n DESC, g ASC LIMIT 48),
         |vocab AS (SELECT g, n FROM topg
         |  UNION ALL SELECT g, n FROM gcnt WHERE length(g) = 1),
         |seg AS (
         |  WITH RECURSIVE paths(w, pos, k, fsum, toks, lkey) AS (
         |    SELECT w, 1, 0, CAST(0 AS BIGINT), '', '' FROM wc
         |    UNION ALL
         |    SELECT s.w, CAST(s.pos + length(v.g) AS INT), s.k + 1,
         |      s.fsum + v.n, s.toks || chr(1) || v.g,
         |      CAST(4 - length(v.g) AS VARCHAR) || s.lkey
         |    FROM paths s JOIN vocab v
         |      ON v.g = substring(s.w, s.pos, length(v.g))
         |    WHERE s.pos <= length(s.w))
         |  SELECT w, k, fsum, toks, lkey FROM paths
         |  WHERE pos = length(w) + 1),
         |best AS (SELECT w, toks FROM (
         |    SELECT w, toks, row_number() OVER (PARTITION BY w
         |      ORDER BY k ASC, fsum DESC, lkey ASC) AS rn FROM seg)
         |  WHERE rn = 1),
         |tok AS (SELECT b.w, unnest(string_split(substr(b.toks, 2),
         |    chr(1))) AS token FROM best b)
         |SELECT token, CAST(SUM(wc.c) AS BIGINT) AS n_occ,
         |  CAST(COUNT(DISTINCT tok.w) AS BIGINT) AS n_words
         |FROM tok JOIN wc ON tok.w = wc.w
         |GROUP BY 1""".stripMargin,

    // hard-EM training replayed round by round (the llm_bpe_vocab
    // pattern): per round, EVERY segmentation of every word against
    // the previous round's weighted vocabulary enumerated through a
    // recursive CTE, the canonical minimum's token masses re-
    // estimated, the 8 lowest-mass multi-char entries dropped —
    // early-exhaust rounds pass through with whatever tail remains
    "llm_unigram_vocab" -> unigramVocabOracle,

    // the frozen-vocab unigram replayed over an explicit EDGE set:
    // base-derived weighted vocabulary, plus a frequency-0 <UNK>
    // edge at exactly the positions no vocabulary entry matches;
    // the enumeration then selects the same canonical minimum
    "llm_unigram_incremental" ->
      s"""WITH bwords AS (SELECT
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
         |      AS w FROM documents WHERE doc_id % 10 != 7),
         |bwc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM bwords
         |  WHERE w != '' GROUP BY 1),
         |glen AS (SELECT w, c, unnest([1, 2, 3, 4]) AS l FROM bwc),
         |gpos AS (SELECT w, c, l,
         |    unnest(range(1, CAST(length(w) - l + 2 AS BIGINT))) AS p
         |  FROM glen WHERE length(w) >= l),
         |gcnt AS (SELECT substring(w, CAST(p AS INT), CAST(l AS INT))
         |    AS g, CAST(SUM(c) AS BIGINT) AS n FROM gpos GROUP BY 1),
         |topg AS (SELECT g, n FROM gcnt WHERE length(g) >= 2
         |  ORDER BY n DESC, g ASC LIMIT 48),
         |vocab AS (SELECT g, n FROM topg
         |  UNION ALL SELECT g, n FROM gcnt WHERE length(g) = 1),
         |nwords AS (SELECT
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
         |      AS w FROM documents WHERE doc_id % 10 = 7),
         |nwc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM nwords
         |  WHERE w != '' GROUP BY 1),
         |poss AS (SELECT w,
         |    unnest(range(1, CAST(length(w) + 1 AS BIGINT))) AS pos
         |  FROM nwc),
         |vedge AS (SELECT p.w, CAST(p.pos AS INT) AS pos, v.g, v.n,
         |    CAST(length(v.g) AS INT) AS lg
         |  FROM poss p JOIN vocab v
         |    ON v.g = substring(p.w, CAST(p.pos AS INT), length(v.g))),
         |uedge AS (SELECT p.w, CAST(p.pos AS INT) AS pos,
         |    '<UNK>' AS g, CAST(0 AS BIGINT) AS n, 1 AS lg
         |  FROM poss p
         |  WHERE NOT EXISTS (SELECT 1 FROM vedge e
         |    WHERE e.w = p.w AND e.pos = p.pos)),
         |edges AS (SELECT * FROM vedge
         |  UNION ALL SELECT * FROM uedge),
         |seg AS (
         |  WITH RECURSIVE paths(w, pos, k, fsum, toks, lkey) AS (
         |    SELECT w, 1, 0, CAST(0 AS BIGINT), '', '' FROM nwc
         |    UNION ALL
         |    SELECT s.w, s.pos + e.lg, s.k + 1, s.fsum + e.n,
         |      s.toks || chr(1) || e.g,
         |      CAST(4 - e.lg AS VARCHAR) || s.lkey
         |    FROM paths s JOIN edges e
         |      ON e.w = s.w AND e.pos = s.pos
         |    WHERE s.pos <= length(s.w))
         |  SELECT w, k, fsum, toks, lkey FROM paths
         |  WHERE pos = length(w) + 1),
         |best AS (SELECT w, toks FROM (
         |    SELECT w, toks, row_number() OVER (PARTITION BY w
         |      ORDER BY k ASC, fsum DESC, lkey ASC) AS rn FROM seg)
         |  WHERE rn = 1),
         |tok AS (SELECT b.w, unnest(string_split(substr(b.toks, 2),
         |    chr(1))) AS token FROM best b)
         |SELECT token, CAST(SUM(nwc.c) AS BIGINT) AS n_occ,
         |  CAST(COUNT(DISTINCT tok.w) AS BIGINT) AS n_words
         |FROM tok JOIN nwc ON tok.w = nwc.w
         |GROUP BY 1""".stripMargin,

    // frozen-vocabulary replay: the vocabulary re-derived from BASE
    // documents only, the recursive walk run over ARRIVING words
    // with a second recursive branch emitting '<UNK>' and advancing
    // one char when no vocab entry matches — an engine that lets
    // arriving text leak into the vocabulary, skips OOV chars
    // silently, or misweights the unknown token hash-mismatches
    "llm_wordpiece_incremental" ->
      s"""WITH bwords AS (SELECT
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
         |      AS w FROM documents WHERE doc_id % 10 != 7),
         |bwc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM bwords
         |  WHERE w != '' GROUP BY 1),
         |glen AS (SELECT w, c, unnest([2, 3, 4]) AS l FROM bwc),
         |gpos AS (SELECT w, c, l,
         |    unnest(range(1, CAST(length(w) - l + 2 AS BIGINT))) AS p
         |  FROM glen WHERE length(w) >= l),
         |gcnt AS (SELECT substring(w, CAST(p AS INT), CAST(l AS INT))
         |    AS g, SUM(c) AS n FROM gpos GROUP BY 1),
         |topg AS (SELECT g FROM gcnt ORDER BY n DESC, g ASC LIMIT 48),
         |cpos AS (SELECT w,
         |    unnest(range(1, CAST(length(w) + 1 AS BIGINT))) AS p
         |  FROM bwc),
         |chars AS (SELECT DISTINCT substring(w, CAST(p AS INT), 1)
         |    AS g FROM cpos),
         |vocab AS (SELECT g FROM topg UNION SELECT g FROM chars),
         |nwords AS (SELECT
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
         |      AS w FROM documents WHERE doc_id % 10 = 7),
         |nwc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM nwords
         |  WHERE w != '' GROUP BY 1),
         |tok AS (
         |  WITH RECURSIVE steps(w, pos, tok) AS (
         |    SELECT w, 1, CAST(NULL AS VARCHAR) FROM nwc
         |    UNION ALL
         |    SELECT w,
         |      CAST(CASE WHEN m IS NULL THEN pos + 1
         |           ELSE pos + length(m) END AS INT),
         |      coalesce(m, '<UNK>')
         |    FROM (SELECT s.w, s.pos,
         |        (SELECT v.g FROM vocab v
         |         WHERE v.g = substring(s.w, s.pos, length(v.g))
         |         ORDER BY length(v.g) DESC LIMIT 1) AS m
         |      FROM steps s WHERE s.pos <= length(s.w))
         |  )
         |  SELECT w, tok FROM steps WHERE tok IS NOT NULL)
         |SELECT t.tok AS token, CAST(SUM(nwc.c) AS BIGINT) AS n_occ,
         |  CAST(COUNT(DISTINCT t.w) AS BIGINT) AS n_words
         |FROM tok t JOIN nwc ON nwc.w = t.w
         |GROUP BY 1""".stripMargin,

    // the seeded-md5 rank, shard residue, and per-shard position
    // replayed with the shared hex-rank arithmetic
    "llm_shuffle_shards" -> {
      val rankSql =
        graft.functions.QuantileSketch.hexRankSql("instr", "h", 1, 15)
      s"""WITH r AS (SELECT doc_id,
         |    $rankSql AS rk
         |  FROM (SELECT doc_id, md5('shuf42:' || doc_id) AS h
         |        FROM documents))
         |SELECT doc_id, rk % 16 AS shard,
         |  CAST(row_number() OVER (PARTITION BY rk % 16
         |    ORDER BY rk, doc_id) - 1 AS BIGINT) AS pos
         |FROM r""".stripMargin
    },

    // the encoded priority*2^40+doc_id min replayed verbatim
    "llm_dedup_priority" ->
      s"""WITH pw AS (SELECT doc_id, source,
         |    sha256(array_to_string(
         |      regexp_split_to_array(trim(lower(text)), '\\s+'), ' '))
         |      AS dedup_key,
         |    CAST(substring(source, 4) AS BIGINT) * ${1L << 40}
         |      + doc_id AS ord
         |  FROM documents)
         |SELECT dedup_key,
         |  min(ord) % ${1L << 40} AS keep_id,
         |  min(ord) // ${1L << 40} AS keep_priority,
         |  count(*) AS n_copies,
         |  count(DISTINCT source) AS n_sources
         |FROM pw GROUP BY 1""".stripMargin,

    "llm_dedup_minhash" ->
      s"""WITH $minhashCte
         |SELECT doc_a, doc_b FROM pairs""".stripMargin,

    // the pair CTE joined against the split rule re-derived with
    // doc_id kept — an audit that drops a straddling pair or joins
    // the wrong side hash-mismatches
    "llm_split_leakage" ->
      s"""WITH $minhashCte,
         |spl AS (SELECT doc_id,
         |    CASE WHEN wh % 100 < 90 THEN 'train'
         |         WHEN wh % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, ${hexHashExpr("strpos")} AS wh
         |        FROM (SELECT doc_id,
         |            md5(CAST(doc_id AS VARCHAR)) AS h
         |          FROM documents)))
         |SELECT p.doc_a, p.doc_b, sa.split AS split_a,
         |  sb.split AS split_b
         |FROM pairs p
         |JOIN spl sa ON sa.doc_id = p.doc_a
         |JOIN spl sb ON sb.doc_id = p.doc_b
         |WHERE sa.split <> sb.split""".stripMargin,

    "llm_ngram_jaccard" ->
      s"""WITH $minhashCte,
         |bgpos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i
         |  FROM w),
         |bg AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS bg
         |  FROM bgpos),
         |sizes AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
         |  FROM pairs p
         |  JOIN bg x ON p.doc_a = x.doc_id
         |  JOIN bg y ON p.doc_b = y.doc_id AND x.bg = y.bg
         |  GROUP BY p.doc_a, p.doc_b)
         |SELECT i.doc_a, i.doc_b,
         |  CAST(floor(1000.0 * i.n_inter
         |    / (sa.n + sb.n - i.n_inter)) AS BIGINT) AS jaccard_x1000
         |FROM inter i
         |JOIN sizes sa ON i.doc_a = sa.doc_id
         |JOIN sizes sb ON i.doc_b = sb.doc_id""".stripMargin,

    "llm_containment" ->
      s"""WITH $minhashCte,
         |bgpos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i
         |  FROM w),
         |bg AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS bg
         |  FROM bgpos),
         |sizes AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
         |  FROM pairs p
         |  JOIN bg x ON p.doc_a = x.doc_id
         |  JOIN bg y ON p.doc_b = y.doc_id AND x.bg = y.bg
         |  GROUP BY p.doc_a, p.doc_b)
         |SELECT i.doc_a, i.doc_b,
         |  CAST(floor(1000.0 * i.n_inter / sa.n) AS BIGINT)
         |    AS cont_a_x1000,
         |  CAST(floor(1000.0 * i.n_inter / sb.n) AS BIGINT)
         |    AS cont_b_x1000,
         |  CAST(floor(1000.0 * i.n_inter / least(sa.n, sb.n)) AS BIGINT)
         |    AS cont_min_side_x1000
         |FROM inter i
         |JOIN sizes sa ON i.doc_a = sa.doc_id
         |JOIN sizes sb ON i.doc_b = sb.doc_id""".stripMargin,

    "llm_lsh_bucket_stats" ->
      s"""WITH $sigBandsCte,
         |bs AS (SELECT band, bv, CAST(count(*) AS BIGINT) AS bucket_size
         |  FROM bands GROUP BY 1, 2)
         |SELECT bucket_size, CAST(count(*) AS BIGINT) AS n_buckets
         |FROM bs GROUP BY 1""".stripMargin,

    "llm_dedup_clusters" ->
      s"""WITH RECURSIVE $sigBandsCte,
         |$clusterEdgesCte,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cedges
         |  UNION ALL SELECT doc_b, doc_a FROM cedges),
         |r(doc, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN r ON e.dst = r.doc)
         |SELECT doc AS doc_id, min(lbl) AS cluster_id
         |FROM r GROUP BY doc""".stripMargin,

    "llm_dedup_keep" ->
      s"""WITH RECURSIVE $sigBandsCte,
         |$clusterEdgesCte,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cedges
         |  UNION ALL SELECT doc_b, doc_a FROM cedges),
         |r(doc, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN r ON e.dst = r.doc),
         |dupes AS (SELECT doc FROM r GROUP BY doc
         |  HAVING doc <> min(lbl))
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc FROM dupes)""".stripMargin,

    "llm_exact_incremental" ->
      s"""WITH $wCte,
         |keys AS (SELECT doc_id,
         |    sha256(array_to_string(ws, ' ')) AS k FROM w),
         |idx AS (SELECT k AS dedup_key, min(doc_id) AS keep_id
         |  FROM keys WHERE NOT ($arrivingShardPred) GROUP BY k),
         |arr AS (SELECT doc_id, k FROM keys WHERE $arrivingShardPred),
         |m AS (SELECT a.doc_id, min(i.keep_id) AS dup_of
         |  FROM arr a JOIN idx i ON a.k = i.dedup_key
         |  GROUP BY a.doc_id)
         |SELECT a.doc_id,
         |  CASE WHEN m.doc_id IS NULL THEN 'kept' ELSE 'dropped' END
         |    AS verdict,
         |  coalesce(m.dup_of, -1) AS dup_of
         |FROM arr a LEFT JOIN m ON a.doc_id = m.doc_id""".stripMargin,

    // Replays the split + stored-index semantics end-to-end: index
    // bands (bi) over the existing snapshot, CC labels over ITS pair
    // graph only, arriving bands (ba) probed by (band, bv); min
    // matched effective label (cluster label, else the index doc's
    // own id) per arriving doc; arriving docs with no signature or
    // no match are kept.
    "llm_dedup_incremental" ->
      s"""WITH RECURSIVE $sigBandsCte,
         |bi AS (SELECT * FROM bands WHERE NOT ($arrivingShardPred)),
         |ba AS (SELECT * FROM bands WHERE $arrivingShardPred),
         |${saltedPairsCte("bi")},
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |r(doc, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN r ON e.dst = r.doc),
         |labels AS (SELECT doc, min(lbl) AS lbl FROM r GROUP BY doc),
         |m AS (SELECT a.doc_id,
         |    min(coalesce(l.lbl, i.doc_id)) AS cl
         |  FROM ba a
         |  JOIN bi i ON a.band = i.band AND a.bv = i.bv
         |  LEFT JOIN labels l ON i.doc_id = l.doc
         |  GROUP BY a.doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN m.doc_id IS NULL THEN 'kept' ELSE 'dropped' END
         |    AS verdict,
         |  coalesce(m.cl, -1) AS cluster_id
         |FROM (SELECT doc_id FROM documents WHERE $arrivingShardPred) d
         |LEFT JOIN m ON d.doc_id = m.doc_id""".stripMargin,

    "llm_simhash" -> {
      val sums = (1 to 16).map(j =>
        s"SUM(CASE WHEN substring(h, $j, 1) >= '8' THEN 1 ELSE 0 END) AS s$j")
        .mkString(", ")
      val bits = (1 to 16).map(j =>
        s"(CASE WHEN 2 * s$j >= n_words THEN '1' ELSE '0' END)")
        .mkString(" || ")
      s"""WITH $wCte,
         |wx AS (SELECT doc_id, unnest(ws) AS word FROM w),
         |wd AS (SELECT doc_id, md5(word) AS h FROM wx),
         |g AS (SELECT doc_id, count(*) AS n_words, $sums
         |  FROM wd GROUP BY doc_id)
         |SELECT doc_id, $bits AS simhash,
         |  CAST(n_words AS BIGINT) AS n_words
         |FROM g""".stripMargin
    },

    "llm_simhash_neardup" -> {
      // band k as an integer: Σ majority-bit(16k+i) << (15-i)
      val bandInts = (0 until 4).map { k =>
        (0 until 16).map { i =>
          val j = 16 * k + i
          val dgt = j / 4 + 1
          val div = 1 << (3 - j % 4)
          s"(CASE WHEN 2 * SUM((CAST(strpos('0123456789abcdef', " +
            s"substring(h, $dgt, 1)) - 1 AS INT) // $div) % 2) " +
            s">= COUNT(*) THEN ${1L << (15 - i)} ELSE 0 END)"
        }.mkString("(", " + ", s") AS v$k")
      }.mkString(", ")
      s"""WITH $wCte,
         |wx AS (SELECT doc_id, unnest(ws) AS word FROM w),
         |wd AS (SELECT doc_id, md5(word) AS h FROM wx),
         |sig AS (SELECT doc_id, $bandInts FROM wd GROUP BY doc_id),
         |reps AS (SELECT v0, v1, v2, v3, min(doc_id) AS rep
         |  FROM sig GROUP BY v0, v1, v2, v3),
         |stars AS (SELECT r.rep AS doc_a, s.doc_id AS doc_b
         |  FROM sig s JOIN reps r ON s.v0 = r.v0 AND s.v1 = r.v1
         |    AND s.v2 = r.v2 AND s.v3 = r.v3
         |  WHERE s.doc_id <> r.rep),
         |rbands AS (SELECT rep AS doc_id, b AS band,
         |    CASE b WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
         |           ELSE v3 END AS bv
         |  FROM reps, (SELECT unnest([0, 1, 2, 3]) AS b)),
         |${saltedPairsCte("rbands")},
         |hamq AS (SELECT p.doc_a, p.doc_b,
         |    (bit_count(xor(a.v0, b.v0)) + bit_count(xor(a.v1, b.v1)) +
         |     bit_count(xor(a.v2, b.v2)) + bit_count(xor(a.v3, b.v3)))
         |    AS hamming
         |  FROM pairs p JOIN reps a ON a.rep = p.doc_a
         |  JOIN reps b ON b.rep = p.doc_b)
         |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
         |FROM hamq WHERE hamming <= 3
         |UNION ALL
         |SELECT doc_a, doc_b, CAST(0 AS BIGINT) AS hamming
         |FROM stars""".stripMargin
    },

    "llm_knn_bruteforce" ->
      s"""WITH $quantCte,
         |q AS (SELECT vec_id AS q_id, qv AS qvec FROM v
         |  WHERE vec_id IN $qIdList),
         |s AS (SELECT q_id, vec_id,
         |    CAST(list_inner_product(CAST(qvec AS DOUBLE[]),
         |      CAST(qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM v, q WHERE vec_id <> q_id),
         |r AS (SELECT q_id, vec_id, ip,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS INT) AS rank
         |  FROM s)
         |SELECT q_id, vec_id, rank, ip FROM r WHERE rank <= 10""".stripMargin,

    "llm_ann_buckets" ->
      s"""WITH $bucketCte
         |SELECT bucket, count(*) AS n_vecs FROM bv GROUP BY bucket""".stripMargin,

    "llm_ann_topk" -> {
      val flips = (1 to 8).map(i =>
        s"substring(bucket, 1, ${i - 1}) || " +
          s"(CASE WHEN substring(bucket, $i, 1) = '1' THEN '0' ELSE '1' END)" +
          s" || substring(bucket, ${i + 1}, ${8 - i})")
      s"""WITH $bucketCte,
         |q0 AS (SELECT vec_id AS q_id, qv AS qvec, bucket
         |  FROM bv WHERE vec_id IN $qIdList),
         |q AS (SELECT q_id, qvec,
         |    unnest([bucket, ${flips.mkString(", ")}]) AS probe_bucket
         |  FROM q0),
         |s AS (SELECT q_id, vec_id,
         |    CAST(list_inner_product(CAST(qvec AS DOUBLE[]),
         |      CAST(qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM bv, q WHERE bucket = probe_bucket AND vec_id <> q_id),
         |r AS (SELECT q_id, vec_id, ip,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS INT) AS rank
         |  FROM s)
         |SELECT q_id, vec_id, rank, ip FROM r WHERE rank <= 5""".stripMargin
    },

    "llm_ivf_clusters" ->
      s"""WITH $ivfCte
         |SELECT cid, count(*) AS n_vecs FROM asg GROUP BY cid""".stripMargin,

    "llm_kmeans_step" ->
      s"""WITH $ivfCte,
         |dims AS (SELECT cid, unnest(qv) AS x,
         |    unnest(generate_series(1, len(qv))) AS j FROM asg),
         |sums AS (SELECT cid, j, CAST(sum(x) AS BIGINT) AS sx
         |  FROM dims GROUP BY cid, j),
         |n AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
         |  FROM asg GROUP BY cid),
         |m AS (SELECT s.cid, n.n_vecs, s.j, s.sx // n.n_vecs AS mj
         |  FROM sums s JOIN n ON s.cid = n.cid)
         |SELECT cid, MAX(n_vecs) AS n_vecs,
         |  CAST(SUM(CASE WHEN j = 1 THEN mj ELSE 0 END) AS BIGINT) AS c0,
         |  CAST(SUM(mj) AS BIGINT) AS mean_sum
         |FROM m GROUP BY cid""".stripMargin,

    "llm_kmeans_converged" ->
      s"""WITH $quantCte,
         |$kmeansCte,
         |kf AS (SELECT cid, n_vecs, cv[1] AS c0, unnest(cv) AS x
         |  FROM cent$kmIters)
         |SELECT cid, MAX(n_vecs) AS n_vecs, MAX(c0) AS c0,
         |  CAST(SUM(x) AS BIGINT) AS csum
         |FROM kf GROUP BY cid""".stripMargin,

    "llm_semantic_dedup" ->
      s"""WITH $quantCte,
         |$kmeansCte,
         |$semCte
         |SELECT vec_id, cid, rep_id,
         |  CASE WHEN sem_dup THEN 'dropped' ELSE 'kept' END AS verdict
         |FROM semv""".stripMargin,

    "llm_semdedup_stats" ->
      s"""WITH $quantCte,
         |$kmeansCte,
         |$semCte
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN sem_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(floor(1000.0 * (count(*) -
         |    sum(CASE WHEN sem_dup THEN 1 ELSE 0 END)) / count(*))
         |    AS BIGINT) AS kept_x1000
         |FROM semv GROUP BY cid""".stripMargin,

    // dist² to the converged centroid via three inner products (the
    // same decomposition the engine computes), top-2 per cluster by
    // (dist2 DESC, vec_id ASC) — TopKByLong's exact tie order.
    // Bit-exact vs the engine's long arithmetic under the 2^53
    // bound documented at quantCte (products here ≤ ~2.4e7).
    "llm_embed_outliers" ->
      s"""WITH $quantCte,
         |$kmeansCte,
         |od AS (SELECT a.cid, a.vec_id,
         |    CAST(list_inner_product(CAST(a.qv AS DOUBLE[]),
         |      CAST(a.qv AS DOUBLE[])) AS BIGINT)
         |    - 2 * CAST(list_inner_product(CAST(a.qv AS DOUBLE[]),
         |      CAST(c.cv AS DOUBLE[])) AS BIGINT)
         |    + CAST(list_inner_product(CAST(c.cv AS DOUBLE[]),
         |      CAST(c.cv AS DOUBLE[])) AS BIGINT) AS dist2
         |  FROM kasg a JOIN cent$kmIters c ON a.cid = c.cid),
         |orr AS (SELECT cid, vec_id, dist2, ROW_NUMBER() OVER (
         |    PARTITION BY cid ORDER BY dist2 DESC, vec_id ASC) AS rank
         |  FROM od)
         |SELECT cid, vec_id, dist2, CAST(rank AS INT) AS rank
         |FROM orr WHERE rank <= 2""".stripMargin,

    "llm_ivf_kmeans_recall" ->
      s"""WITH $quantCte,
         |$kmeansCte,
         |q AS (SELECT vec_id AS q_id, qv AS qvec FROM v
         |  WHERE vec_id IN $qIdList),
         |cp AS (SELECT q_id, qvec, cid, ROW_NUMBER() OVER (
         |    PARTITION BY q_id ORDER BY cip DESC, cid) AS rn
         |  FROM (SELECT q.q_id, q.qvec, c.cid,
         |      CAST(list_inner_product(CAST(q.qvec AS DOUBLE[]),
         |        CAST(c.cv AS DOUBLE[])) AS BIGINT) AS cip
         |    FROM q, cent$kmIters c)),
         |probes AS (SELECT q_id, qvec, cid FROM cp WHERE rn <= $nProbe),
         |si AS (SELECT p.q_id, a.vec_id,
         |    CAST(list_inner_product(CAST(p.qvec AS DOUBLE[]),
         |      CAST(a.qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM probes p JOIN kasg a
         |    ON a.cid = p.cid AND a.vec_id <> p.q_id),
         |ri AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS rank FROM si)
         |  WHERE rank <= 5),
         |se AS (SELECT q_id, vec_id,
         |    CAST(list_inner_product(CAST(qvec AS DOUBLE[]),
         |      CAST(qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM v, q WHERE vec_id <> q_id),
         |re AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS rank FROM se)
         |  WHERE rank <= 5)
         |SELECT re.q_id, count(ri.vec_id) AS n_hits,
         |  CAST(floor(1000.0 * count(ri.vec_id) / 5) AS BIGINT)
         |    AS recall_x1000
         |FROM re LEFT JOIN ri
         |  ON re.q_id = ri.q_id AND re.vec_id = ri.vec_id
         |GROUP BY re.q_id""".stripMargin,

    "llm_ivf_topk" ->
      s"""WITH $ivfCte,
         |q AS (SELECT vec_id AS q_id, qv AS qvec FROM v
         |  WHERE vec_id IN $qIdList),
         |cp AS (SELECT q_id, qvec, cid, ROW_NUMBER() OVER (
         |    PARTITION BY q_id ORDER BY cip DESC, cid) AS rn
         |  FROM (SELECT q.q_id, q.qvec, c.cid,
         |      CAST(list_inner_product(CAST(q.qvec AS DOUBLE[]),
         |        CAST(c.cv AS DOUBLE[])) AS BIGINT) AS cip
         |    FROM q, cent c)),
         |probes AS (SELECT q_id, qvec, cid FROM cp WHERE rn <= $nProbe),
         |s AS (SELECT p.q_id, a.vec_id,
         |    CAST(list_inner_product(CAST(p.qvec AS DOUBLE[]),
         |      CAST(a.qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM probes p JOIN asg a
         |    ON a.cid = p.cid AND a.vec_id <> p.q_id),
         |r AS (SELECT q_id, vec_id, ip,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS INT) AS rank
         |  FROM s)
         |SELECT q_id, vec_id, rank, ip FROM r WHERE rank <= 5""".stripMargin,

    // the stored-ANN-index ladder replayed end to end: the
    // index/arriving split, the capped-Lloyd training over the
    // INDEX corpus only (prefix-i CTEs — a second training
    // coexisting with the default full-corpus chain), the final
    // assignment (= the persisted inverted lists), and the
    // nprobe-pruned top-5 probe per arriving vector
    "llm_ivf_incremental" ->
      s"""WITH $quantCte,
         |vi AS (SELECT vec_id, qv FROM v WHERE vec_id % 10 <> 7),
         |${kmeansCteOver("vi", "i")},
         |q AS (SELECT vec_id AS q_id, qv AS qvec FROM v
         |  WHERE vec_id % 10 = 7),
         |cp AS (SELECT q_id, qvec, cid, ROW_NUMBER() OVER (
         |    PARTITION BY q_id ORDER BY cip DESC, cid) AS rn
         |  FROM (SELECT q.q_id, q.qvec, c.cid,
         |      CAST(list_inner_product(CAST(q.qvec AS DOUBLE[]),
         |        CAST(c.cv AS DOUBLE[])) AS BIGINT) AS cip
         |    FROM q, icent$kmIters c)),
         |probes AS (SELECT q_id, qvec, cid FROM cp WHERE rn <= $nProbe),
         |si AS (SELECT p.q_id, a.vec_id,
         |    CAST(list_inner_product(CAST(p.qvec AS DOUBLE[]),
         |      CAST(a.qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM probes p JOIN ikasg a
         |    ON a.cid = p.cid AND a.vec_id <> p.q_id),
         |ri AS (SELECT q_id, vec_id, ip,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS INT) AS rank
         |  FROM si)
         |SELECT q_id, vec_id, rank, ip FROM ri WHERE rank <= 5""".stripMargin,

    // the drift signal replayed over the same stored-index ladder:
    // per-list counts, mass shares and mean member->centroid inner
    // products for the indexed corpus vs the arriving shard
    "llm_ivf_drift" ->
      s"""WITH $quantCte,
         |vi AS (SELECT vec_id, qv FROM v WHERE vec_id % 10 <> 7),
         |${kmeansCteOver("vi", "i")},
         |dcent AS (SELECT cid, cv FROM icent$kmIters),
         |idx AS (SELECT a.cid, CAST(count(*) AS BIGINT) AS n_indexed,
         |    CAST(sum(CAST(list_inner_product(CAST(a.qv AS DOUBLE[]),
         |      CAST(c.cv AS DOUBLE[])) AS BIGINT)) AS BIGINT) AS sip
         |  FROM ikasg a JOIN dcent c ON a.cid = c.cid GROUP BY a.cid),
         |q AS (SELECT vec_id, qv FROM v WHERE vec_id % 10 = 7),
         |qa AS (SELECT vec_id, qv, cid FROM (
         |    SELECT q.vec_id, q.qv, c.cid, ROW_NUMBER() OVER (
         |      PARTITION BY q.vec_id ORDER BY
         |        CAST(list_inner_product(CAST(q.qv AS DOUBLE[]),
         |          CAST(c.cv AS DOUBLE[])) AS BIGINT) DESC, c.cid)
         |      AS rn FROM q, dcent c) WHERE rn = 1),
         |arr AS (SELECT a.cid, CAST(count(*) AS BIGINT) AS n_arriving,
         |    CAST(sum(CAST(list_inner_product(CAST(a.qv AS DOUBLE[]),
         |      CAST(c.cv AS DOUBLE[])) AS BIGINT)) AS BIGINT) AS sap
         |  FROM qa a JOIN dcent c ON a.cid = c.cid GROUP BY a.cid),
         |base AS (SELECT c.cid,
         |    CAST(COALESCE(i.n_indexed, 0) AS BIGINT) AS n_indexed,
         |    CAST(COALESCE(a.n_arriving, 0) AS BIGINT) AS n_arriving,
         |    i.sip, a.sap
         |  FROM dcent c LEFT JOIN idx i ON c.cid = i.cid
         |  LEFT JOIN arr a ON c.cid = a.cid),
         |tot AS (SELECT CAST(sum(n_indexed) AS BIGINT) AS ti,
         |    CAST(sum(n_arriving) AS BIGINT) AS ta FROM base)
         |SELECT b.cid, b.n_indexed, b.n_arriving,
         |  CAST((1000 * b.n_indexed) // t.ti AS BIGINT)
         |    AS idx_share_x1000,
         |  CAST((1000 * b.n_arriving) // t.ta AS BIGINT)
         |    AS arr_share_x1000,
         |  CAST(b.sip // b.n_indexed AS BIGINT) AS ip_indexed_mean,
         |  CAST(CASE WHEN b.n_arriving = 0 THEN -1
         |    ELSE b.sap // b.n_arriving END AS BIGINT)
         |    AS ip_arriving_mean
         |FROM base b, tot t""".stripMargin,

    // the drift-frame series replayed relationally: per deterministic
    // micro-batch (vec_id % 3) the same share arithmetic as
    // llm_ivf_drift, then the trailing-window min/max-delta trend
    // with the min-gated sustained verdict
    "llm_ivf_drift_trend" ->
      s"""WITH $quantCte,
         |vi AS (SELECT vec_id, qv FROM v WHERE vec_id % 10 <> 7),
         |${kmeansCteOver("vi", "i")},
         |dcent AS (SELECT cid, cv FROM icent$kmIters),
         |idx AS (SELECT a.cid, CAST(count(*) AS BIGINT) AS n_indexed
         |  FROM ikasg a GROUP BY a.cid),
         |tix AS (SELECT CAST(sum(n_indexed) AS BIGINT) AS ti FROM idx),
         |q AS (SELECT vec_id, qv, vec_id % 3 AS b FROM v
         |  WHERE vec_id % 10 = 7),
         |qa AS (SELECT vec_id, b, cid FROM (
         |    SELECT q.vec_id, q.b, c.cid, ROW_NUMBER() OVER (
         |      PARTITION BY q.vec_id ORDER BY
         |        CAST(list_inner_product(CAST(q.qv AS DOUBLE[]),
         |          CAST(c.cv AS DOUBLE[])) AS BIGINT) DESC, c.cid)
         |      AS rn FROM q, dcent c) WHERE rn = 1),
         |arrb AS (SELECT b, cid, CAST(count(*) AS BIGINT) AS n_arriving
         |  FROM qa GROUP BY b, cid),
         |tb AS (SELECT b, CAST(sum(n_arriving) AS BIGINT) AS ta
         |  FROM arrb GROUP BY b),
         |frames AS (SELECT bb.b, c.cid,
         |    CAST(COALESCE(i.n_indexed, 0) AS BIGINT) AS n_indexed,
         |    CAST(COALESCE(a.n_arriving, 0) AS BIGINT) AS n_arriving,
         |    t.ti, bb.ta
         |  FROM tb bb CROSS JOIN dcent c CROSS JOIN tix t
         |  LEFT JOIN idx i ON c.cid = i.cid
         |  LEFT JOIN arrb a ON a.b = bb.b AND a.cid = c.cid),
         |deltas AS (SELECT cid,
         |    abs(CAST((1000 * n_arriving) // ta AS BIGINT) -
         |      CAST((1000 * n_indexed) // ti AS BIGINT)) AS delta
         |  FROM frames)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(min(delta) AS BIGINT) AS min_delta,
         |  CAST(max(delta) AS BIGINT) AS max_delta,
         |  CAST(CASE WHEN count(*) = 3 AND min(delta) > 100 THEN 1
         |    ELSE 0 END AS BIGINT) AS sustained
         |FROM deltas GROUP BY cid""".stripMargin,

    "llm_ann_recall" -> {
      val flips = (1 to 8).map(i =>
        s"substring(bucket, 1, ${i - 1}) || " +
          s"(CASE WHEN substring(bucket, $i, 1) = '1' THEN '0' ELSE '1' END)" +
          s" || substring(bucket, ${i + 1}, ${8 - i})")
      s"""WITH $bucketCte,
         |q0 AS (SELECT vec_id AS q_id, qv AS qvec, bucket
         |  FROM bv WHERE vec_id IN $qIdList),
         |q AS (SELECT q_id, qvec,
         |    unnest([bucket, ${flips.mkString(", ")}]) AS probe_bucket
         |  FROM q0),
         |sa AS (SELECT q_id, vec_id,
         |    CAST(list_inner_product(CAST(qvec AS DOUBLE[]),
         |      CAST(qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM bv, q WHERE bucket = probe_bucket AND vec_id <> q_id),
         |ra AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS rank FROM sa)
         |  WHERE rank <= 5),
         |qe AS (SELECT vec_id AS q_id, qv AS qvec FROM v
         |  WHERE vec_id IN $qIdList),
         |se AS (SELECT q_id, vec_id,
         |    CAST(list_inner_product(CAST(qvec AS DOUBLE[]),
         |      CAST(qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM v, qe WHERE vec_id <> q_id),
         |re AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS rank FROM se)
         |  WHERE rank <= 5)
         |SELECT re.q_id, count(ra.vec_id) AS n_hits,
         |  CAST(floor(1000.0 * count(ra.vec_id) / 5) AS BIGINT)
         |    AS recall_x1000
         |FROM re LEFT JOIN ra
         |  ON re.q_id = ra.q_id AND re.vec_id = ra.vec_id
         |GROUP BY re.q_id""".stripMargin
    },

    "llm_ivf_recall" ->
      s"""WITH $ivfCte,
         |q AS (SELECT vec_id AS q_id, qv AS qvec FROM v
         |  WHERE vec_id IN $qIdList),
         |cp AS (SELECT q_id, qvec, cid, ROW_NUMBER() OVER (
         |    PARTITION BY q_id ORDER BY cip DESC, cid) AS rn
         |  FROM (SELECT q.q_id, q.qvec, c.cid,
         |      CAST(list_inner_product(CAST(q.qvec AS DOUBLE[]),
         |        CAST(c.cv AS DOUBLE[])) AS BIGINT) AS cip
         |    FROM q, cent c)),
         |probes AS (SELECT q_id, qvec, cid FROM cp WHERE rn <= $nProbe),
         |si AS (SELECT p.q_id, a.vec_id,
         |    CAST(list_inner_product(CAST(p.qvec AS DOUBLE[]),
         |      CAST(a.qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM probes p JOIN asg a
         |    ON a.cid = p.cid AND a.vec_id <> p.q_id),
         |ri AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS rank FROM si)
         |  WHERE rank <= 5),
         |se AS (SELECT q_id, vec_id,
         |    CAST(list_inner_product(CAST(qvec AS DOUBLE[]),
         |      CAST(qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM v, q WHERE vec_id <> q_id),
         |re AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS rank FROM se)
         |  WHERE rank <= 5)
         |SELECT re.q_id, count(ri.vec_id) AS n_hits,
         |  CAST(floor(1000.0 * count(ri.vec_id) / 5) AS BIGINT)
         |    AS recall_x1000
         |FROM re LEFT JOIN ri
         |  ON re.q_id = ri.q_id AND re.vec_id = ri.vec_id
         |GROUP BY re.q_id""".stripMargin,

    "llm_pq_codes" ->
      s"""WITH $quantCte,
         |$pqCodesCte
         |SELECT vec_id,
         |  ${(1 to pqSub).map(j => s"c$j").mkString(", ")} FROM codes"""
        .stripMargin,

    "llm_pq_adc_topk" ->
      s"""WITH $quantCte,
         |$pqCodesCte,
         |$pqAdcScoreCte,
         |r AS (SELECT q_id, vec_id, adc_ip,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY adc_ip DESC, vec_id) AS INT) AS rank FROM sc)
         |SELECT q_id, vec_id, rank, adc_ip FROM r WHERE rank <= 5"""
        .stripMargin,

    "llm_pq_recall" ->
      s"""WITH $quantCte,
         |$pqCodesCte,
         |$pqAdcScoreCte,
         |ri AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY adc_ip DESC, vec_id) AS rank FROM sc)
         |  WHERE rank <= 5),
         |se AS (SELECT q_id, vec_id,
         |    CAST(list_inner_product(CAST(qvec AS DOUBLE[]),
         |      CAST(qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM v, q WHERE vec_id <> q_id),
         |re AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS rank FROM se)
         |  WHERE rank <= 5)
         |SELECT re.q_id, count(ri.vec_id) AS n_hits,
         |  CAST(floor(1000.0 * count(ri.vec_id) / 5) AS BIGINT)
         |    AS recall_x1000
         |FROM re LEFT JOIN ri
         |  ON re.q_id = ri.q_id AND re.vec_id = ri.vec_id
         |GROUP BY re.q_id""".stripMargin,

    // the STORED fused index replayed end to end: index/arriving
    // split, the unrolled Lloyd training over the index corpus
    // (prefix-i CTEs, shared with llm_ivf_incremental), residuals
    // against the trained centroids, sample codebooks, per-subspace
    // codes, the nprobe coarse ranking and the fused ADC top-5
    "llm_ivfpq_incremental" -> {
      val subsCodes = (1 to pqSub).map { j =>
        val lo = (j - 1) * pqDim + 1
        val hi = j * pqDim
        s"""ps$j AS (SELECT r.vec_id, c.rcid,
           |    CAST(list_inner_product(CAST(r.rv[$lo:$hi] AS DOUBLE[]),
           |      CAST(c.rv[$lo:$hi] AS DOUBLE[])) AS BIGINT) AS ip
           |  FROM pres r, pbook c),
           |pr$j AS (SELECT vec_id, rcid AS c$j FROM (
           |    SELECT vec_id, rcid, ROW_NUMBER() OVER (
           |      PARTITION BY vec_id ORDER BY ip DESC, rcid) AS rn
           |    FROM ps$j)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val codeJoins = (1 to pqSub)
        .map(j => s"JOIN pr$j ON r.vec_id = pr$j.vec_id")
        .mkString("\n  ")
      val lutSel = (1 to pqSub).map { j =>
        val lo = (j - 1) * pqDim + 1
        val hi = j * pqDim
        s"""SELECT q.q_id, $j AS j, c.rcid,
           |    CAST(list_inner_product(CAST(q.qvec[$lo:$hi] AS DOUBLE[]),
           |      CAST(c.rv[$lo:$hi] AS DOUBLE[])) AS BIGINT) AS ip
           |  FROM q, pbook c""".stripMargin
      }.mkString("\nUNION ALL\n")
      val codesLong = (1 to pqSub).map(j =>
        s"SELECT vec_id, cid, $j AS j, c$j AS rcid FROM pcodes")
        .mkString(" UNION ALL ")
      s"""WITH $quantCte,
         |vi AS (SELECT vec_id, qv FROM v WHERE vec_id % 10 <> 7),
         |${kmeansCteOver("vi", "i")},
         |pru AS (SELECT a.vec_id, a.cid, unnest(a.qv) AS x,
         |    unnest(c.cv) AS y,
         |    unnest(generate_series(1, len(a.qv))) AS jj
         |  FROM ikasg a JOIN icent$kmIters c ON a.cid = c.cid),
         |pres AS (SELECT vec_id, cid, list(x - y ORDER BY jj) AS rv
         |  FROM pru GROUP BY 1, 2),
         |pbook AS (SELECT CAST(vec_id AS INT) AS rcid, rv FROM pres
         |  WHERE vec_id < $nCentroids),
         |$subsCodes,
         |pcodes AS (SELECT r.vec_id, r.cid,
         |    ${(1 to pqSub).map(j => s"pr$j.c$j").mkString(", ")}
         |  FROM pres r
         |  $codeJoins),
         |q AS (SELECT vec_id AS q_id, qv AS qvec FROM v
         |  WHERE vec_id % 10 = 7),
         |cp AS (SELECT q_id, qvec, cid, cip, ROW_NUMBER() OVER (
         |    PARTITION BY q_id ORDER BY cip DESC, cid) AS rn
         |  FROM (SELECT q.q_id, q.qvec, c.cid,
         |      CAST(list_inner_product(CAST(q.qvec AS DOUBLE[]),
         |        CAST(c.cv AS DOUBLE[])) AS BIGINT) AS cip
         |    FROM q, icent$kmIters c)),
         |probes AS (SELECT q_id, cid, cip FROM cp
         |  WHERE rn <= $ivfpqProbe),
         |plut AS ($lutSel),
         |pcl AS ($codesLong),
         |padc AS (SELECT l.q_id, cl.vec_id, cl.cid,
         |    CAST(sum(l.ip) AS BIGINT) AS adc
         |  FROM pcl cl JOIN plut l
         |    ON l.j = cl.j AND l.rcid = cl.rcid
         |  GROUP BY 1, 2, 3),
         |psc AS (SELECT p.q_id, a.vec_id, p.cip + a.adc AS ip
         |  FROM probes p JOIN padc a
         |    ON a.cid = p.cid AND a.q_id = p.q_id
         |    AND a.vec_id <> p.q_id),
         |pri AS (SELECT q_id, vec_id, ip,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS INT) AS rank
         |  FROM psc)
         |SELECT q_id, vec_id, rank, ip FROM pri
         |WHERE rank <= 5""".stripMargin
    },

    // the fused index replayed end to end: coarse assign → integer
    // residual → per-subspace residual codes → nprobe lists → ADC
    "llm_ivfpq_topk" ->
      s"""WITH $quantCte,
         |$ivfpqCte,
         |r AS (SELECT q_id, vec_id, ip,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS INT) AS rank
         |  FROM fsc)
         |SELECT q_id, vec_id, rank, ip FROM r
         |WHERE rank <= 5""".stripMargin,

    "llm_ivfpq_recall" ->
      s"""WITH $quantCte,
         |$ivfpqCte,
         |ri AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS rank FROM fsc)
         |  WHERE rank <= 5),
         |se AS (SELECT q_id, vec_id,
         |    CAST(list_inner_product(CAST(qvec AS DOUBLE[]),
         |      CAST(qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM v, fq WHERE vec_id <> q_id),
         |re AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY ip DESC, vec_id) AS rank FROM se)
         |  WHERE rank <= 5)
         |SELECT re.q_id, count(ri.vec_id) AS n_hits,
         |  CAST(floor(1000.0 * count(ri.vec_id) / 5) AS BIGINT)
         |    AS recall_x1000
         |FROM re LEFT JOIN ri
         |  ON re.q_id = ri.q_id AND re.vec_id = ri.vec_id
         |GROUP BY re.q_id""".stripMargin,

    "llm_minhash_est" -> {
      val matches = (1 to 8).map(j =>
        s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $minhashCte
         |SELECT p.doc_a, p.doc_b,
         |  CAST(floor(1000.0 * ($matches) / 8) AS BIGINT)
         |    AS est_jaccard_x1000
         |FROM pairs p
         |JOIN mh a ON p.doc_a = a.doc_id
         |JOIN mh b ON p.doc_b = b.doc_id""".stripMargin
    },

    "llm_embed_neardup" ->
      s"""WITH $bucketCte,
         |p AS (SELECT least(a.vec_id, b.vec_id) AS vec_a,
         |    greatest(a.vec_id, b.vec_id) AS vec_b,
         |    CAST(list_inner_product(CAST(a.qv AS DOUBLE[]),
         |      CAST(b.qv AS DOUBLE[])) AS BIGINT) AS ip
         |  FROM bv a JOIN bv b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, ip FROM p WHERE ip >= 200000""".stripMargin,

    "llm_sample_bottomk" ->
      """SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
        |FROM documents
        |ORDER BY h, doc_id LIMIT 100""".stripMargin,

    // component replay: the identical archive is rebuilt and the
    // expected records derived from the fixture pieces — a parser
    // that mis-measures any header line, block, or separator
    // desynchronizes against this
    "llm_warc_records" ->
      """WITH t AS (SELECT doc_id,
        |    repeat('x', CAST(doc_id % 20 AS INT) + 1) AS b1,
        |    'doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
        |      repeat('y', CAST(doc_id % 37 AS INT)) AS b2,
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) AS uri
        |  FROM documents)
        |SELECT doc_id, CAST(0 AS INT) AS rec_idx,
        |  'warcinfo' AS rec_type, CAST(NULL AS VARCHAR) AS uri,
        |  CAST(strlen(b1) AS BIGINT) AS content_length,
        |  md5(b1) AS body_md5
        |FROM t
        |UNION ALL
        |SELECT doc_id, CAST(1 AS INT), 'response', uri,
        |  CAST(strlen(b2) AS BIGINT), md5(b2)
        |FROM t""".stripMargin,

    // gz round-trip: the ORACLE is plain-record replay — identical
    // expected rows to llm_warc_records — while the ENGINE routes
    // the same fixture through per-record gzip members and the
    // multi-member inflate walk; any compression/inflate drift
    // hash-mismatches against the uncompressed truth
    "llm_warc_gz" ->
      """WITH t AS (SELECT doc_id,
        |    repeat('x', CAST(doc_id % 20 AS INT) + 1) AS b1,
        |    'doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
        |      repeat('y', CAST(doc_id % 37 AS INT)) AS b2,
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) AS uri
        |  FROM documents)
        |SELECT doc_id, CAST(0 AS INT) AS rec_idx,
        |  'warcinfo' AS rec_type, CAST(NULL AS VARCHAR) AS uri,
        |  CAST(strlen(b1) AS BIGINT) AS content_length,
        |  md5(b1) AS body_md5
        |FROM t
        |UNION ALL
        |SELECT doc_id, CAST(1 AS INT), 'response', uri,
        |  CAST(strlen(b2) AS BIGINT), md5(b2)
        |FROM t""".stripMargin,

    // the ingest chain replayed: same CASE fixture, same header-
    // region line-wise Content-Type extraction (case-insensitive,
    // parameters stripped), same RE2-compatible regexes — gates and
    // counts re-derived end to end
    "llm_warc_ingest" -> {
      val tag = htmlTagRe
      val ws = wsRunRe
      """WITH t AS (SELECT doc_id, text,
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) AS uri
        |  FROM documents),
        |h AS (SELECT doc_id, uri,
        |    CASE
        |      WHEN doc_id % 7 = 0 THEN
        |        'HTTP/1.1 404 Not Found' || chr(13) || chr(10) ||
        |        'Server: graft/1.0' || chr(13) || chr(10) ||
        |        'Content-Type: text/html' || chr(13) || chr(10) ||
        |        chr(13) || chr(10) || '<html>not found</html>'
        |      WHEN doc_id % 5 = 0 THEN
        |        'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
        |        'Content-Type: application/pdf' || chr(13) ||
        |        chr(10) ||
        |        'Date: Mon, 01 Jan 2024 00:00:00 GMT' || chr(13) ||
        |        chr(10) || chr(13) || chr(10) || '%PDF-1.4 junk'
        |      WHEN doc_id % 3 = 0 THEN
        |        'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
        |        'Server: nginx' || chr(13) || chr(10) ||
        |        'content-type: Text/HTML; charset=UTF-8' ||
        |        chr(13) || chr(10) ||
        |        chr(13) || chr(10) || '<html><body><h1>Doc ' ||
        |        CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
        |        '</p></body></html>'
        |      ELSE
        |        'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
        |        'Content-Type: text/html' || chr(13) || chr(10) ||
        |        'Content-Language: en' || chr(13) || chr(10) ||
        |        chr(13) || chr(10) || '<html><body><h1>Doc ' ||
        |        CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
        |        '</p></body></html>'
        |    END AS msg
        |  FROM t),
        |sp AS (SELECT doc_id, uri, msg,
        |    CAST(substring(msg, 10, 3) AS INT) AS status,
        |    strpos(msg, chr(13) || chr(10) || chr(13) || chr(10))
        |      AS he
        |  FROM h),
        |pg AS (SELECT doc_id, uri, status,
        |    lower(trim(regexp_extract(substring(msg, 1, he + 1),
        |      '(?i)\r\n[ \t]*content-type[ \t]*:[ \t]*([^\r\n;]+)',
        |      1))) AS ctype,
        |    substring(msg, he + 4) AS page
        |  FROM sp),""".stripMargin +
      s"""
        |cl AS (SELECT doc_id, uri,
        |    trim(regexp_replace(regexp_replace(page, '$tag', ' ',
        |      'g'), '$ws', ' ', 'g')) AS clean
        |  FROM pg
        |  WHERE status = 200 AND ctype = 'text/html')
        |SELECT doc_id, uri,
        |  CAST(len(regexp_split_to_array(clean, '$ws')) AS BIGINT)
        |    AS n_tokens,
        |  CAST(length(clean) AS BIGINT) AS n_chars,
        |  md5(clean) AS text_md5
        |FROM cl""".stripMargin
    },

    // min-of-w-hashes replay: the same per-replica md5 keys derived
    // with list lambdas and DuckDB's own digit polynomial
    "llm_sample_weighted" ->
      s"""SELECT doc_id, source, weight, skey FROM (
         |  SELECT doc_id, source,
         |    CAST(doc_id % 4 AS INT) + 1 AS weight,
         |    list_min(list_transform(list_transform(
         |      range(1, CAST(doc_id % 4 AS BIGINT) + 2),
         |      r -> md5(CAST(doc_id AS VARCHAR) || ':' ||
         |        CAST(r AS VARCHAR))),
         |      h -> (${hexHashExpr("strpos")}))) AS skey
         |  FROM documents)
         |ORDER BY skey, doc_id LIMIT 100""".stripMargin,

    "llm_sample_stratified" ->
      s"""WITH hx AS (SELECT doc_id, lang,
         |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |wx AS (SELECT doc_id, lang, ${hexHashExpr("strpos")} AS wh
         |  FROM hx),
         |r AS (SELECT lang, doc_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY wh ASC, doc_id ASC) AS INT) AS rank
         |  FROM wx)
         |SELECT lang, doc_id, rank FROM r WHERE rank <= 3""".stripMargin,

    "llm_mix_sample" ->
      s"""WITH hx AS (SELECT doc_id, source,
         |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |wx AS (SELECT doc_id, source, ${hexHashExpr("strpos")} AS wh
         |  FROM hx),
         |r AS (SELECT source, doc_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY wh ASC, doc_id ASC) AS INT) AS rank
         |  FROM wx),
         |sq AS (SELECT DISTINCT source, md5(source) AS h
         |  FROM documents),
         |qq AS (SELECT source,
         |    (${hexHashExpr("strpos")}) % $mixMaxQuota + 1 AS q FROM sq)
         |SELECT r.source, r.doc_id, r.rank FROM r
         |JOIN qq ON r.source = qq.source
         |WHERE r.rank <= qq.q""".stripMargin,

    "llm_passage_dedup" ->
      s"""WITH $wCte,
         |p AS (SELECT doc_id, ws,
         |    unnest(generate_series(1,
         |      CAST(ceil(len(ws) / ${passageLen}.0) AS INT))) AS pi
         |  FROM w),
         |ph AS (SELECT doc_id,
         |    md5(array_to_string(
         |      ws[(pi-1)*$passageLen+1:pi*$passageLen], ' ')) AS ph
         |  FROM p),
         |sh AS (SELECT ph AS sh FROM ph GROUP BY ph
         |  HAVING count(DISTINCT doc_id) >= 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
         |  CAST(sum(CASE WHEN s.sh IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_shared
         |FROM ph LEFT JOIN sh s ON ph.ph = s.sh
         |GROUP BY doc_id""".stripMargin,

    "llm_term_filter" -> {
      val inList = blocklist.map("'" + _ + "'").mkString(", ")
      s"""WITH $wCte
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(ws, t -> t IN ($inList))) AS BIGINT)
         |    AS n_blocked
         |FROM w
         |WHERE len(list_filter(ws, t -> t IN ($inList))) * 20 < len(ws)"""
        .stripMargin
    },

    "llm_distinctive_terms" ->
      """WITH tok AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS term
        |  FROM documents),
        |st AS (SELECT source, term, count(*) AS c_src
        |  FROM tok GROUP BY 1, 2),
        |tt AS (SELECT term, CAST(sum(c_src) AS BIGINT) AS c_all
        |  FROM st GROUP BY term),
        |stot AS (SELECT source, CAST(sum(c_src) AS BIGINT) AS tot_src
        |  FROM st GROUP BY source),
        |tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS tot_all FROM tt),
        |lift AS (SELECT st.source, st.term,
        |    CAST((1000 * st.c_src * CAST(tot.tot_all AS HUGEINT))
        |      // (CAST(tt.c_all AS HUGEINT) * stot.tot_src)
        |      AS BIGINT) AS lift_x1000
        |  FROM st JOIN tt ON st.term = tt.term
        |  JOIN stot ON st.source = stot.source CROSS JOIN tot),
        |r AS (SELECT source, term, lift_x1000,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY lift_x1000 DESC, term ASC) AS INT) AS rank
        |  FROM lift)
        |SELECT source, term, lift_x1000, rank FROM r WHERE rank <= 3"""
        .stripMargin,

    // full BM25 replay: re-tokenize, re-count, re-derive the exact
    // rational scoring (the same 128-bit integer division), rank by
    // a window — independent of the engine's bounded-heap top-k.
    // llm_bm25_incremental gets the SAME full-corpus replay: the
    // incremental contract IS "stored-base + delta == full rebuild",
    // so sharing the oracle is the assertion, not a shortcut.
    "llm_bm25_incremental" -> bm25OracleSql,
    "llm_bm25_topk" -> bm25OracleSql,

    "llm_kmv_distinct" ->
      s"""WITH t AS (SELECT source,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
         |  FROM documents),
         |pos AS (SELECT source, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
         |  FROM t),
         |g AS (SELECT source,
         |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS h
         |  FROM pos),
         |hv AS (SELECT DISTINCT source, ${hexHashExpr("strpos")} AS v
         |  FROM g),
         |r AS (SELECT source, v, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY v ASC) AS INT) AS rn FROM hv),
         |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM hv GROUP BY source),
         |kth AS (SELECT source, v AS hk FROM r WHERE rn = $kmvK)
         |SELECT n.source, n.n_exact,
         |  CAST(CASE WHEN kth.hk IS NULL THEN n.n_exact
         |    ELSE (${kmvK - 1} * 4294967296) // (kth.hk + 1) END
         |    AS BIGINT) AS est_distinct
         |FROM n LEFT JOIN kth ON n.source = kth.source""".stripMargin,

    // KMV multiset replay: per-source bottom-64 via a window, the
    // merged-sketch union/intersection estimators re-derived with
    // JOINS instead of the engine's array kernels — same exact
    // integer arithmetic, fully independent plumbing
    "llm_kmv_intersect" ->
      s"""WITH t AS (SELECT source,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
         |  FROM documents),
         |pos AS (SELECT source, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
         |  FROM t),
         |g AS (SELECT source,
         |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS h
         |  FROM pos),
         |hv AS (SELECT DISTINCT source, ${hexHashExpr("strpos")} AS v
         |  FROM g),
         |r AS (SELECT source, v, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY v ASC) AS INT) AS rn FROM hv),
         |sk AS (SELECT source, v FROM r WHERE rn <= $kmvK),
         |srcs AS (SELECT DISTINCT source FROM hv),
         |pr AS (SELECT a.source AS sa, b.source AS sb
         |  FROM srcs a JOIN srcs b ON a.source < b.source),
         |u AS (SELECT pr.sa, pr.sb, sk.v
         |  FROM pr JOIN sk ON sk.source = pr.sa OR sk.source = pr.sb
         |  GROUP BY 1, 2, 3),
         |um AS (SELECT sa, sb, v,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY sa, sb
         |      ORDER BY v ASC) AS INT) AS rn,
         |    COUNT(*) OVER (PARTITION BY sa, sb) AS msize
         |  FROM u),
         |ell AS (SELECT * FROM um WHERE rn <= $kmvK),
         |tau AS (SELECT sa, sb, MAX(v) AS tau, MAX(msize) AS msize
         |  FROM ell GROUP BY 1, 2),
         |rho AS (SELECT e.sa, e.sb, COUNT(*) AS rho
         |  FROM ell e
         |  JOIN sk x ON x.source = e.sa AND x.v = e.v
         |  JOIN sk y ON y.source = e.sb AND y.v = e.v
         |  GROUP BY 1, 2),
         |skin AS (SELECT x.source AS sa, y.source AS sb,
         |    COUNT(*) AS c
         |  FROM sk x JOIN sk y ON x.v = y.v AND x.source < y.source
         |  GROUP BY 1, 2),
         |exin AS (SELECT x.source AS sa, y.source AS sb,
         |    COUNT(*) AS n
         |  FROM hv x JOIN hv y ON x.v = y.v AND x.source < y.source
         |  GROUP BY 1, 2),
         |est AS (SELECT t.sa, t.sb,
         |    CASE WHEN t.msize < $kmvK THEN t.msize
         |      ELSE (${kmvK - 1} * 4294967296) // (t.tau + 1) END
         |      AS est_union,
         |    coalesce(r.rho, 0) AS rho,
         |    coalesce(s.c, 0) AS skc,
         |    t.msize
         |  FROM tau t
         |  LEFT JOIN rho r ON t.sa = r.sa AND t.sb = r.sb
         |  LEFT JOIN skin s ON t.sa = s.sa AND t.sb = s.sb)
         |SELECT e.sa AS source_a, e.sb AS source_b,
         |  CAST(coalesce(x.n, 0) AS BIGINT) AS n_exact_inter,
         |  CAST(e.est_union AS BIGINT) AS est_union,
         |  CAST(e.rho AS BIGINT) AS rho,
         |  CAST(CASE WHEN e.msize < $kmvK THEN e.skc
         |    ELSE (e.rho * e.est_union) // $kmvK END AS BIGINT)
         |    AS est_inter
         |FROM est e
         |LEFT JOIN exin x ON e.sa = x.sa AND e.sb = x.sb""".stripMargin,

    // HLL replay: same md5-derived 32-bit hash, registers re-derived
    // (top-6-bit bucket, 27 − bitlength rho via bin()), the exact
    // common-denominator harmonic fold re-run in BIGINT — no float
    // anywhere, independent of the engine's aggregation
    "llm_hll_distinct" ->
      s"""WITH t AS (SELECT source,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
         |  FROM documents),
         |pos AS (SELECT source, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
         |  FROM t),
         |g AS (SELECT source,
         |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS h
         |  FROM pos),
         |hv AS (SELECT DISTINCT source, ${hexHashExpr("strpos")} AS v
         |  FROM g),
         |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM hv GROUP BY source),
         |r AS (SELECT source, CAST(v // $hllW AS INT) AS j,
         |    MAX(CASE WHEN v % $hllW = 0 THEN ${hllWBits + 1}
         |      ELSE ${hllWBits + 1} - length(bin(v % $hllW)) END) AS mj
         |  FROM hv GROUP BY 1, 2),
         |e AS (SELECT source,
         |    SUM(CAST(1 AS BIGINT) << CAST($hllWBits - mj AS INT))
         |      + ($hllM - COUNT(*)) * $hllW AS nsum
         |  FROM r GROUP BY 1)
         |SELECT n.source, n.n_exact,
         |  CAST(${709L * hllM * hllM * hllW} // (1000 * e.nsum)
         |    AS BIGINT) AS est_hll
         |FROM n JOIN e ON n.source = e.source""".stripMargin,

    "llm_novelty" ->
      s"""WITH $wCte,
         |pos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
         |  FROM w),
         |dd AS (SELECT DISTINCT doc_id,
         |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS h
         |  FROM pos),
         |df AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS df
         |  FROM dd)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unique,
         |  CAST(floor(1000.0 * sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
         |    / count(*)) AS BIGINT) AS novelty_x1000
         |FROM df GROUP BY doc_id""".stripMargin,

    // Independent spelling of the span chain: 1-based positional
    // 8-gram hashes, duplicated grams via GROUP BY ... HAVING,
    // islands via the same p - row_number trick (the one standard
    // SQL idiom both sides share), per-doc rollup.
    "llm_dup_spans" ->
      s"""WITH $wCte,
         |pos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - ${spanK - 1},
         |      0))) AS i
         |  FROM w),
         |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
         |    md5(list_aggregate(ws[i:i+${spanK - 1}], 'string_agg',
         |      ' ')) AS h
         |  FROM pos),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
         |dp AS (SELECT doc_id, p FROM g
         |  WHERE h IN (SELECT h FROM dup)),
         |isl AS (SELECT doc_id, p,
         |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p)
         |      AS k FROM dp),
         |sp AS (SELECT doc_id, k, min(p) AS s,
         |    max(p) + ${spanK - 1} AS e
         |  FROM isl GROUP BY 1, 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
         |  CAST(max(e - s + 1) AS BIGINT) AS max_span
         |FROM sp GROUP BY doc_id""".stripMargin,

    // Incremental == full proven by the oracle: the from-scratch
    // FULL-corpus span chain restricted to the arriving shard — the
    // engine instead probes the stored base-gram index + shard-local
    // duplicates and must land on identical rows.
    "llm_span_incremental" ->
      s"""WITH $wCte,
         |pos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - ${spanK - 1},
         |      0))) AS i
         |  FROM w),
         |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
         |    md5(list_aggregate(ws[i:i+${spanK - 1}], 'string_agg',
         |      ' ')) AS h
         |  FROM pos),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
         |dp AS (SELECT doc_id, p FROM g
         |  WHERE h IN (SELECT h FROM dup)),
         |isl AS (SELECT doc_id, p,
         |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p)
         |      AS k FROM dp),
         |sp AS (SELECT doc_id, k, min(p) AS s,
         |    max(p) + ${spanK - 1} AS e
         |  FROM isl GROUP BY 1, 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
         |  CAST(max(e - s + 1) AS BIGINT) AS max_span
         |FROM sp WHERE $arrivingShardPred GROUP BY doc_id""".stripMargin,

    // The removal transform over the same span chain: covered
    // positions unnest from the spans (overlap across nearby
    // islands collapsed by the NOT EXISTS), survivors reassemble
    // via ordered string_agg — the engine's sort_array reassembly
    // independently respelled.
    "llm_span_dedup_keep" ->
      s"""WITH $wCte,
         |pos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - ${spanK - 1},
         |      0))) AS i
         |  FROM w),
         |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
         |    md5(list_aggregate(ws[i:i+${spanK - 1}], 'string_agg',
         |      ' ')) AS h
         |  FROM pos),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
         |dp AS (SELECT doc_id, p FROM g
         |  WHERE h IN (SELECT h FROM dup)),
         |isl AS (SELECT doc_id, p,
         |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p)
         |      AS k FROM dp),
         |sp AS (SELECT doc_id, k, min(p) AS s,
         |    max(p) + ${spanK - 1} AS e
         |  FROM isl GROUP BY 1, 2),
         |cov AS (SELECT DISTINCT doc_id,
         |    unnest(generate_series(s, e)) AS p FROM sp),
         |tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
         |    ws[i] AS word
         |  FROM (SELECT doc_id, ws,
         |      unnest(generate_series(1, len(ws))) AS i FROM w)),
         |kept AS (SELECT t.doc_id, t.p, t.word FROM tok t
         |  WHERE NOT EXISTS (SELECT 1 FROM cov c
         |      WHERE c.doc_id = t.doc_id AND c.p = t.p)
         |    AND t.doc_id IN (SELECT doc_id FROM cov))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |  string_agg(word, ' ' ORDER BY p) AS clean_text
         |FROM kept GROUP BY doc_id""".stripMargin,

    // Replays the whole incremental chain: per-(source, shard)
    // bottom-64 partials (rn <= k), distinct-union merge, re-ranked
    // bottom-64, estimate from sketch contents only — plus the
    // monolithic sketch re-derived from the SAME hv base for the
    // yardstick columns.
    "llm_kmv_incremental" ->
      s"""WITH t AS (SELECT source, doc_id % $kmvShards AS shard,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
         |  FROM documents),
         |pos AS (SELECT source, shard, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
         |  FROM t),
         |g AS (SELECT source, shard,
         |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS h
         |  FROM pos),
         |shv AS (SELECT DISTINCT source, shard, ${hexHashExpr("strpos")} AS v
         |  FROM g),
         |pr AS (SELECT source, shard, v, ROW_NUMBER() OVER (
         |    PARTITION BY source, shard ORDER BY v ASC) AS rn FROM shv),
         |partials AS (SELECT source, shard, v FROM pr WHERE rn <= $kmvK),
         |u AS (SELECT DISTINCT source, v FROM partials),
         |m AS (SELECT source, v, ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY v ASC) AS rn FROM u),
         |nm AS (SELECT source, CAST(count(*) AS BIGINT) AS n_merged
         |  FROM u GROUP BY source),
         |mkth AS (SELECT source, v AS hk FROM m WHERE rn = $kmvK),
         |hv AS (SELECT DISTINCT source, v FROM shv),
         |r AS (SELECT source, v, ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY v ASC) AS rn FROM hv),
         |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM hv GROUP BY source),
         |kth AS (SELECT source, v AS hk FROM r WHERE rn = $kmvK)
         |SELECT nm.source, nm.n_merged,
         |  CAST(CASE WHEN nm.n_merged < $kmvK THEN nm.n_merged
         |    ELSE (${kmvK - 1} * 4294967296) // (mkth.hk + 1) END
         |    AS BIGINT) AS est_merged,
         |  CAST(CASE WHEN kth.hk IS NULL THEN n.n_exact
         |    ELSE (${kmvK - 1} * 4294967296) // (kth.hk + 1) END
         |    AS BIGINT) AS est_full,
         |  n.n_exact
         |FROM nm
         |JOIN n ON n.source = nm.source
         |LEFT JOIN mkth ON mkth.source = nm.source
         |LEFT JOIN kth ON kth.source = nm.source""".stripMargin,

    "llm_winnow" ->
      s"""WITH $wCte,
         |pos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
         |  FROM w),
         |t AS (SELECT doc_id, i,
         |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS h
         |  FROM pos),
         |hv AS (SELECT doc_id, i, ${hexHashExpr("strpos")} AS v FROM t),
         |wm AS (SELECT doc_id, i,
         |    min(v) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING)
         |      AS wmin,
         |    count(*) OVER (PARTITION BY doc_id) AS m FROM hv),
         |f AS (SELECT DISTINCT doc_id, wmin FROM wm
         |  WHERE i <= greatest(m - ${winnowW - 1}, 1))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
         |  min(wmin) AS fp_min, CAST(sum(wmin) AS BIGINT) AS fp_sum
         |FROM f GROUP BY doc_id""".stripMargin,

    "llm_split_assign" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
         |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |wx AS (SELECT n_chars, ${hexHashExpr("strpos")} AS wh FROM t),
         |sp AS (SELECT n_chars,
         |    CASE WHEN wh % 100 < 90 THEN 'train'
         |         WHEN wh % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM wx)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM sp GROUP BY split""".stripMargin,

    "llm_length_buckets" ->
      s"""WITH $wCte
         |SELECT least(CAST(len(ws) AS BIGINT) // 8, 12) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(min(len(ws)) AS BIGINT) AS min_tokens,
         |  CAST(max(len(ws)) AS BIGINT) AS max_tokens
         |FROM w GROUP BY 1""".stripMargin,

    "llm_source_overlap" ->
      s"""WITH t AS (SELECT source,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
         |  FROM documents),
         |p AS (SELECT source, ws,
         |    unnest(generate_series(1,
         |      CAST(ceil(len(ws) / ${passageLen}.0) AS INT))) AS pi
         |  FROM t),
         |ph AS (SELECT DISTINCT
         |    md5(array_to_string(
         |      ws[(pi-1)*$passageLen+1:pi*$passageLen], ' ')) AS ph,
         |    source
         |  FROM p)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_shared_passages
         |FROM ph a JOIN ph b ON a.ph = b.ph AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,

    "llm_text_stats" -> {
      val sw = stopwords.map(x => s"'$x'").mkString(", ")
      s"""WITH $wCte
         |SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_calc,
         |  CAST(length(text)
         |    - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
         |    AS BIGINT) AS n_punct,
         |  CAST(len(list_filter(ws, x -> x IN ($sw))) AS BIGINT) AS n_stop,
         |  CAST(len(regexp_extract_all(lower(text), '$bpeish'))
         |    AS BIGINT) AS n_subtokens,
         |  CAST(floor(1000.0 * len(list_filter(ws, x -> x IN ($sw)))
         |    / len(ws)) AS BIGINT) AS stop_x1000
         |FROM w""".stripMargin
    },

    "llm_quality_filter" ->
      s"""WITH $wCte,
         |m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g'))
         |      AS BIGINT) AS n_nonspace
         |  FROM w),
         |q AS (SELECT doc_id, n_tokens,
         |    CAST(floor(100.0 * n_nonspace / n_tokens) AS BIGINT)
         |      AS mean_wordlen_x100
         |  FROM m)
         |SELECT doc_id, n_tokens, mean_wordlen_x100 FROM q
         |WHERE n_tokens BETWEEN 25 AND 100000
         |  AND mean_wordlen_x100 BETWEEN 400 AND 520""".stripMargin,

    // the learned linear scorer replayed with the SAME stored
    // weight constants inlined — exact integer features, exact
    // integer dot product, verdict at the 0 boundary
    "llm_quality_score" -> {
      val sw = stopwords.map(x => s"'$x'").mkString(", ")
      val wm = qualityWeights.toMap
      s"""WITH $wCte,
         |f AS (SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g'))
         |      AS BIGINT) AS n_nonspace,
         |    CAST(length(text) AS BIGINT) AS n_chars_calc,
         |    CAST(length(text)
         |      - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
         |      AS BIGINT) AS n_punct,
         |    CAST(len(list_filter(ws, x -> x IN ($sw))) AS BIGINT)
         |      AS n_stop
         |  FROM w),
         |x AS (SELECT doc_id, n_tokens,
         |    CAST(floor(1000.0 * n_stop / n_tokens) AS BIGINT)
         |      AS stop_x1000,
         |    CAST(floor(100.0 * n_nonspace / n_tokens) AS BIGINT)
         |      AS mean_wordlen_x100,
         |    CAST(floor(1000.0 * n_punct / n_chars_calc) AS BIGINT)
         |      AS punct_x1000
         |  FROM f),
         |sc AS (SELECT doc_id,
         |    CAST(${wm("bias")} + ${wm("n_tokens")} * n_tokens
         |      + ${wm("stop_x1000")} * stop_x1000
         |      + ${wm("mean_wordlen_x100")} * mean_wordlen_x100
         |      + ${wm("punct_x1000")} * punct_x1000 AS BIGINT)
         |      AS score
         |  FROM x)
         |SELECT doc_id, score,
         |  CAST(CASE WHEN score >= 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS kept
         |FROM sc""".stripMargin
    },

    // the stump trainer replayed with SQL window arithmetic: the
    // same value-level prefix sums, both polarities, and the
    // (errors, threshold, polarity) tie-break via row_number
    "llm_quality_stump" -> {
      val sw = stopwords.map(x => s"'$x'").mkString(", ")
      s"""WITH $wCte,
         |f AS (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos,
         |    CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g'))
         |      AS BIGINT) AS n_nonspace,
         |    CAST(length(text) AS BIGINT) AS n_chars_calc,
         |    CAST(length(text)
         |      - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
         |      AS BIGINT) AS n_punct,
         |    CAST(len(list_filter(ws, x -> x IN ($sw))) AS BIGINT)
         |      AS n_stop
         |  FROM w),
         |xx AS (SELECT doc_id, is_pos, n_tokens,
         |    CAST(floor(1000.0 * n_stop / n_tokens) AS BIGINT)
         |      AS stop_x1000,
         |    CAST(floor(100.0 * n_nonspace / n_tokens) AS BIGINT)
         |      AS mean_wordlen_x100,
         |    CAST(floor(1000.0 * n_punct / n_chars_calc) AS BIGINT)
         |      AS punct_x1000
         |  FROM f),
         |lg AS (
         |  SELECT 'n_tokens' AS feature, n_tokens AS x, is_pos FROM xx
         |  UNION ALL SELECT 'stop_x1000', stop_x1000, is_pos FROM xx
         |  UNION ALL SELECT 'mean_wordlen_x100', mean_wordlen_x100,
         |    is_pos FROM xx
         |  UNION ALL SELECT 'punct_x1000', punct_x1000, is_pos
         |    FROM xx),
         |v AS (SELECT feature, x,
         |    CAST(SUM(is_pos) AS BIGINT) AS n_pos,
         |    CAST(SUM(1 - is_pos) AS BIGINT) AS n_neg
         |  FROM lg GROUP BY 1, 2),
         |sc AS (SELECT feature, x, n_pos, n_neg,
         |    CAST(COALESCE(SUM(n_pos) OVER (PARTITION BY feature
         |      ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      1 PRECEDING), 0) AS BIGINT) AS cum_pos_lt,
         |    CAST(COALESCE(SUM(n_neg) OVER (PARTITION BY feature
         |      ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      1 PRECEDING), 0) AS BIGINT) AS cum_neg_lt,
         |    CAST(SUM(n_pos) OVER (PARTITION BY feature) AS BIGINT)
         |      AS tot_pos,
         |    CAST(SUM(n_neg) OVER (PARTITION BY feature) AS BIGINT)
         |      AS tot_neg
         |  FROM v),
         |e AS (SELECT feature, x, tot_pos, tot_neg,
         |    cum_pos_lt + (tot_neg - cum_neg_lt) AS err_ge,
         |    tot_pos + tot_neg
         |      - (cum_pos_lt + (tot_neg - cum_neg_lt)) AS err_lt
         |  FROM sc),
         |r AS (SELECT feature, x AS threshold,
         |    CASE WHEN err_ge <= err_lt THEN 'ge' ELSE 'lt' END
         |      AS polarity,
         |    LEAST(err_ge, err_lt) AS n_errors, tot_pos, tot_neg,
         |    ROW_NUMBER() OVER (PARTITION BY feature
         |      ORDER BY LEAST(err_ge, err_lt), x,
         |        CASE WHEN err_ge <= err_lt THEN 'ge' ELSE 'lt' END)
         |      AS rn
         |  FROM e)
         |SELECT feature, threshold, polarity,
         |  CAST(n_errors AS BIGINT) AS n_errors,
         |  tot_pos AS n_pos, tot_neg AS n_neg
         |FROM r WHERE rn = 1""".stripMargin
    },

    // the boosted trainer replayed with the ENTIRE training unrolled
    // round by round (materialized stage CTEs, the BPE-oracle
    // discipline): weighted sweeps, global argmin, weight-doubling
    // reweighting — any per-round divergence hash-mismatches
    "llm_quality_boosted" -> {
      val rows = (1 to boostRounds).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS round, feature, threshold,
           |  polarity, w_err, w_total,
           |  CAST(w_total - 2 * w_err AS BIGINT) AS alpha FROM b$k"""
          .stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH ${boostedOracleCtes(boostRounds)}
         |$rows""".stripMargin
    },

    // inference through the same unrolled-trained ensemble: per-doc
    // alpha-weighted stump vote (ties -> positive), per-language
    // confusion rollup
    "llm_quality_boosted_score" -> {
      val ens = (1 to boostRounds).map { k =>
        s"""SELECT feature, threshold, polarity,
           |  CAST(w_total - 2 * w_err AS BIGINT) AS alpha FROM b$k"""
          .stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH ${boostedOracleCtes(boostRounds)},
         |ens AS ($ens),
         |vt AS (SELECT xx.doc_id, xx.lang, xx.is_pos,
         |    CAST(SUM(e.alpha * CASE WHEN
         |      ((CASE e.feature WHEN 'n_tokens' THEN xx.n_tokens
         |        WHEN 'stop_x1000' THEN xx.stop_x1000
         |        WHEN 'mean_wordlen_x100' THEN xx.mean_wordlen_x100
         |        ELSE xx.punct_x1000 END >= e.threshold)
         |        = (e.polarity = 'ge'))
         |      THEN 1 ELSE -1 END) AS BIGINT) AS vote
         |  FROM xx CROSS JOIN ens e GROUP BY 1, 2, 3)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN vote >= 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_pred_pos,
         |  CAST(SUM(CASE WHEN (CASE WHEN vote >= 0 THEN 1 ELSE 0 END)
         |    = is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |FROM vt GROUP BY lang""".stripMargin
    },

    "llm_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(floor(100.0 * sum(n_chars) / count(*)) AS BIGINT)
        |    AS avg_chars_x100
        |FROM documents GROUP BY lang""".stripMargin,

    "llm_fingerprint" ->
      s"""WITH $wCte,
         |p AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, len(ws))) AS i FROM w),
         |t AS (SELECT doc_id, i, md5(ws[i]) AS h FROM p),
         |wh AS (SELECT doc_id, i, ${hexHashExpr("strpos")} AS v FROM t)
         |SELECT doc_id,
         |  CAST(SUM((v * i) % 2147483647) AS BIGINT) AS fp
         |FROM wh GROUP BY doc_id""".stripMargin,

    "llm_decontaminate" ->
      s"""WITH $wCte,
         |pos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS i
         |  FROM w),
         |g AS (SELECT DISTINCT doc_id,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
         |    ws[i+3] || ' ' || ws[i+4] AS g
         |  FROM pos),
         |heldout AS (SELECT DISTINCT g AS hg FROM g WHERE doc_id % 97 = 0)
         |SELECT doc_id, count(*) AS n_shared_5grams
         |FROM g JOIN heldout ON g.g = heldout.hg
         |WHERE doc_id % 97 <> 0
         |GROUP BY doc_id""".stripMargin,

    "llm_decontam_keep" ->
      s"""WITH $wCte,
         |pos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS i
         |  FROM w),
         |g AS (SELECT DISTINCT doc_id,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
         |    ws[i+3] || ' ' || ws[i+4] AS g
         |  FROM pos),
         |heldout AS (SELECT DISTINCT g AS hg FROM g WHERE doc_id % 97 = 0),
         |flagged AS (SELECT DISTINCT doc_id FROM g
         |  JOIN heldout ON g.g = heldout.hg
         |  WHERE doc_id % 97 <> 0)
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id % 97 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin,

    "llm_decontam_bloom" ->
      s"""WITH $bloomCte
         |SELECT doc_id, n_bloom_5grams, n_exact_5grams FROM bres""".stripMargin,

    "llm_bloom_summary" ->
      s"""WITH $bloomCte
         |SELECT CAST(count(*) AS BIGINT) AS n_docs_flagged,
         |  CAST(sum(CASE WHEN n_exact_5grams > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_exact,
         |  CAST(sum(CASE WHEN n_exact_5grams = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_fp,
         |  CAST(sum(n_bloom_5grams) AS BIGINT) AS n_bloom_grams,
         |  CAST(sum(n_exact_5grams) AS BIGINT) AS n_exact_grams
         |FROM bres""".stripMargin,

    "llm_repetition" ->
      s"""WITH $wCte,
         |wstats AS (SELECT doc_id,
         |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
         |    CAST(len(ws) AS BIGINT) AS n_words FROM w),
         |bgpos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i
         |  FROM w),
         |bgc AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg, count(*) AS c
         |  FROM bgpos GROUP BY 1, 2),
         |bgs AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
         |  FROM bgc GROUP BY doc_id)
         |SELECT b.doc_id,
         |  CAST(floor(1000.0 * b.top_c / b.n_bg) AS BIGINT)
         |    AS top_bigram_x1000,
         |  CAST(floor(1000.0 * s.n_distinct / s.n_words) AS BIGINT)
         |    AS distinct_ratio_x1000
         |FROM bgs b JOIN wstats s ON b.doc_id = s.doc_id""".stripMargin,

    "llm_chunk_windows" ->
      s"""WITH $wCte,
         |t AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n
         |  FROM w WHERE len(ws) > 0),
         |c AS (SELECT doc_id, ws, n,
         |    unnest(generate_series(0,
         |      greatest((n - $chunkLen + ${chunkStride - 1})
         |        // $chunkStride, 0))) AS chunk_idx
         |  FROM t),
         |sl AS (SELECT doc_id, chunk_idx,
         |    ws[chunk_idx * $chunkStride + 1 :
         |       least(chunk_idx * $chunkStride + $chunkLen, n)] AS chunk
         |  FROM c)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
         |  md5(array_to_string(chunk, ' ')) AS chunk_md5
         |FROM sl""".stripMargin,

    "llm_pack_sequences" ->
      s"""WITH $wCte,
         |t AS (SELECT doc_id, doc_id % $packShards AS shard,
         |    CAST(len(ws) AS BIGINT) AS n_tokens FROM w),
         |c AS (SELECT doc_id, shard, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(floor((cum - n_tokens) / $packBudget) AS BIGINT) AS seq_bin
         |FROM c""".stripMargin,

    "llm_source_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+')))
        |    AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY source""".stripMargin,

    "llm_top_bigrams" ->
      s"""WITH $wCte,
         |bgpos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i
         |  FROM w),
         |bgc AS (SELECT ws[i] || ' ' || ws[i+1] AS bg, count(*) AS n
         |  FROM bgpos GROUP BY 1)
         |SELECT bg, n FROM bgc ORDER BY n DESC, bg LIMIT 20""".stripMargin,

    // the count-min build replayed cell-for-cell: same md5, same K-M
    // double hashing (strpos is DuckDB's instr), same d×w geometry
    "llm_cms_bigrams" -> {
      val (haSql, hbSql) = bloomABSql("strpos")
      s"""WITH $wCte,
         |bgpos AS (SELECT doc_id, ws,
         |    unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i
         |  FROM w),
         |occ AS (SELECT ws[i] || ' ' || ws[i+1] AS bg FROM bgpos),
         |ab AS (SELECT bg, $haSql AS ha, $hbSql AS hb
         |  FROM (SELECT bg, md5(bg) AS h FROM occ)),
         |js AS (SELECT unnest(generate_series(0, ${cmsD - 1})) AS j),
         |cells AS (SELECT CAST(j AS BIGINT) * $cmsW +
         |    (ha + CAST(j AS BIGINT) * hb) % $cmsW AS cell,
         |    count(*) AS c
         |  FROM ab, js GROUP BY 1),
         |exact AS (SELECT bg, count(*) AS exact_n FROM occ
         |  GROUP BY 1 ORDER BY exact_n DESC, bg LIMIT 20),
         |keyed AS (SELECT bg, exact_n,
         |    CAST(j AS BIGINT) * $cmsW +
         |    (ha + CAST(j AS BIGINT) * hb) % $cmsW AS cell
         |  FROM (SELECT bg, exact_n, $haSql AS ha, $hbSql AS hb
         |    FROM (SELECT bg, exact_n, md5(bg) AS h FROM exact)), js)
         |SELECT k.bg, k.exact_n, MIN(c.c) AS cms_est,
         |  MIN(c.c) - k.exact_n AS overestimate
         |FROM keyed k JOIN cells c ON c.cell = k.cell
         |GROUP BY k.bg, k.exact_n""".stripMargin
    },

    "mm_binary_stats" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
        |  CAST((octet_length(encode(text)) * 31) % 480 + 1 AS BIGINT)
        |    AS height,
        |  CAST(octet_length(encode(text)) % 24 + 1 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,

    "mm_frame_sample" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) % 24 + 1 AS BIGINT) AS n_frames
        |  FROM documents),
        |f AS (SELECT doc_id, n_frames,
        |    unnest(generate_series(0, n_frames - 1, 5)) AS frame_idx
        |  FROM b)
        |SELECT doc_id, n_frames, frame_idx,
        |  md5(CAST(doc_id AS VARCHAR) || '_' || CAST(frame_idx AS VARCHAR))
        |    AS frame_md5
        |FROM f""".stripMargin,

    "mm_resize_plan" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
        |    CAST((octet_length(encode(text)) * 31) % 480 + 1 AS INT)
        |      AS height
        |  FROM documents),
        |p AS (SELECT doc_id, width, height,
        |    CASE WHEN width <= 320 AND height <= 240 THEN width
        |         WHEN CAST(width AS BIGINT) * 240
        |              <= CAST(height AS BIGINT) * 320
        |           THEN greatest(1, CAST(floor(
        |             CAST(width AS BIGINT) * 240 / CAST(height AS DOUBLE))
        |             AS INT))
        |         ELSE 320 END AS out_w,
        |    CASE WHEN width <= 320 AND height <= 240 THEN height
        |         WHEN CAST(width AS BIGINT) * 240
        |              <= CAST(height AS BIGINT) * 320
        |           THEN 240
        |         ELSE greatest(1, CAST(floor(
        |             CAST(height AS BIGINT) * 320 / CAST(width AS DOUBLE))
        |             AS INT)) END AS out_h
        |  FROM m WHERE width > 0 AND height > 0)
        |SELECT doc_id, CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(out_w AS BIGINT) AS out_w, CAST(out_h AS BIGINT) AS out_h,
        |  (out_w <> width OR out_h <> height) AS resize_needed
        |FROM p""".stripMargin,

    // positional LE re-reads at the two forms' frame/canvas offsets
    // (VP8 dims mod 2^14 — the scale bits; VP8X 24-bit minus-one)
    "mm_webp_dims" -> {
      import graft.multimodal.ImageHex._
      s"""WITH t AS (SELECT doc_id,
         |    (doc_id % 4000) + 1 AS w0,
         |    ((doc_id * 13) % 3000) + 1 AS h0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(CASE WHEN doc_id % 2 = 0
         |      THEN ${webpVp8Hex("w0", "h0", "//")}
         |      ELSE ${webpVp8xHex("w0", "h0", "//")} END)) AS hs
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'vp8' ELSE 'vp8x' END AS form,
         |  CASE WHEN substring(hs, 1, 8) = '52494646'
         |    AND substring(hs, 17, 8) = '57454250' THEN 'webp' END
         |    AS kind,
         |  CASE WHEN doc_id % 2 = 0
         |    THEN (${unhexN("hs", 53, 2, "strpos")}
         |      + 256 * ${unhexN("hs", 55, 2, "strpos")}) % 16384
         |    ELSE 1 + ${unhexN("hs", 49, 2, "strpos")}
         |      + 256 * ${unhexN("hs", 51, 2, "strpos")}
         |      + 65536 * ${unhexN("hs", 53, 2, "strpos")} END AS width,
         |  CASE WHEN doc_id % 2 = 0
         |    THEN (${unhexN("hs", 57, 2, "strpos")}
         |      + 256 * ${unhexN("hs", 59, 2, "strpos")}) % 16384
         |    ELSE 1 + ${unhexN("hs", 55, 2, "strpos")}
         |      + 256 * ${unhexN("hs", 57, 2, "strpos")}
         |      + 65536 * ${unhexN("hs", 59, 2, "strpos")} END AS height
         |FROM b""".stripMargin
    },

    // LE positional re-read of the rebuilt bytes: lo + 256*hi at the
    // screen-descriptor hex offsets
    "mm_gif_dims" -> {
      import graft.multimodal.ImageHex._
      s"""WITH t AS (SELECT doc_id,
         |    (doc_id % 1500) + 1 AS w0,
         |    ((doc_id * 11) % 900) + 1 AS h0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(${gifHex("w0", "h0", "//")})) AS hs
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN substring(hs, 1, 12) = '474946383961'
         |    THEN 'gif' END AS kind,
         |  (${unhexN("hs", 13, 2, "strpos")}
         |    + 256 * ${unhexN("hs", 15, 2, "strpos")}) AS width,
         |  (${unhexN("hs", 17, 2, "strpos")}
         |    + 256 * ${unhexN("hs", 19, 2, "strpos")}) AS height
         |FROM b""".stripMargin
    },

    // per-row endianness replay: even rows read LE, odd rows BE,
    // straight from the rebuilt hex — a parser that honors only one
    // byte order, or reads the SHORT from the trailing value bytes,
    // hash-mismatches half the corpus
    "mm_tiff_dims" -> {
      import graft.multimodal.ImageHex._
      s"""WITH t AS (SELECT doc_id,
         |    (doc_id * 7) % 100000 + 1 AS w0,
         |    ((doc_id * 11) % 60000) + 1 AS h0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(CASE WHEN doc_id % 2 = 0
         |      THEN ${tiffHexLE("w0", "h0", "//")}
         |      ELSE ${tiffHexBE("w0", "h0", "//")} END)) AS hs
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN substring(hs, 1, 4) IN ('4949', '4D4D')
         |    THEN 'tiff' END AS kind,
         |  CASE WHEN doc_id % 2 = 0
         |    THEN ${leUnhexN("hs", TiffWidthPos, 4, "strpos")}
         |    ELSE ${unhexN("hs", TiffWidthPos, 8, "strpos")} END
         |    AS width,
         |  CASE WHEN doc_id % 2 = 0
         |    THEN ${leUnhexN("hs", TiffHeightPos, 2, "strpos")}
         |    ELSE ${unhexN("hs", TiffHeightPos, 4, "strpos")} END
         |    AS height
         |FROM b""".stripMargin
    },

    // EXIF replay: orientation re-read positionally with the
    // matching per-row TIFF endianness (LE bytes vs BE digits at
    // the same position give DIFFERENT values for every legal
    // orientation), dims from the SOF positions, the 5–8 transpose
    // re-derived in SQL
    "mm_exif_meta" -> {
      import graft.multimodal.ImageHex._
      s"""WITH t AS (SELECT doc_id,
         |    (doc_id % 800) + 1 AS w0,
         |    ((doc_id * 7) % 600) + 1 AS h0,
         |    CAST(doc_id % 8 AS INT) + 1 AS or0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(CASE WHEN doc_id % 5 = 0
         |      THEN ${jpegHex("w0", "h0", "//")}
         |      WHEN doc_id % 2 = 0
         |      THEN ${jpegExifHex("w0", "h0", "or0", le = true, "//")}
         |      ELSE ${jpegExifHex("w0", "h0", "or0", le = false, "//")}
         |      END)) AS hs
         |  FROM t),
         |f AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN ${unhexN("hs", JpegWidthPos, 4, "strpos")}
         |      ELSE ${unhexN("hs", ExifJpegWidthPos, 4, "strpos")} END
         |      AS width,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN ${unhexN("hs", JpegHeightPos, 4, "strpos")}
         |      ELSE ${unhexN("hs", ExifJpegHeightPos, 4, "strpos")} END
         |      AS height,
         |    CASE WHEN doc_id % 5 = 0 THEN 1
         |      WHEN doc_id % 2 = 0
         |      THEN ${leUnhexN("hs", ExifOrientPos, 2, "strpos")}
         |      ELSE ${unhexN("hs", ExifOrientPos, 4, "strpos")} END
         |      AS orientation
         |  FROM b)
         |SELECT doc_id,
         |  CAST(width AS BIGINT) AS width,
         |  CAST(height AS BIGINT) AS height,
         |  CAST(orientation AS BIGINT) AS orientation,
         |  CAST(CASE WHEN orientation >= 5 THEN height ELSE width END
         |    AS BIGINT) AS oriented_w,
         |  CAST(CASE WHEN orientation >= 5 THEN width ELSE height END
         |    AS BIGINT) AS oriented_h
         |FROM f""".stripMargin
    },

    "mm_image_dims" -> {
      import graft.multimodal.ImageHex._
      s"""WITH t AS (SELECT doc_id,
         |    (doc_id % 1920) + 1 AS w0,
         |    ((doc_id * 7) % 1080) + 1 AS h0
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0
         |      THEN ${pngHex("w0", "h0", "//")}
         |      ELSE ${jpegHex("w0", "h0", "//")} END AS hs0
         |  FROM t),
         |b AS (SELECT doc_id, hex(from_hex(hs0)) AS hs FROM p),
         |d AS (SELECT doc_id,
         |    CASE WHEN substring(hs, 1, 16) = '89504E470D0A1A0A'
         |           THEN 'png'
         |         WHEN substring(hs, 1, 4) = 'FFD8' THEN 'jpeg' END
         |      AS kind,
         |    CASE WHEN substring(hs, 1, 4) <> 'FFD8'
         |      THEN ${unhexN("hs", PngWidthPos, 8, "strpos")}
         |      ELSE ${unhexN("hs", JpegWidthPos, 4, "strpos")} END AS w,
         |    CASE WHEN substring(hs, 1, 4) <> 'FFD8'
         |      THEN ${unhexN("hs", PngHeightPos, 8, "strpos")}
         |      ELSE ${unhexN("hs", JpegHeightPos, 4, "strpos")} END AS h
         |  FROM b)
         |SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_imgs,
         |  CAST(SUM(w) AS BIGINT) AS sum_w,
         |  CAST(SUM(h) AS BIGINT) AS sum_h,
         |  CAST(min(w) AS INT) AS min_w, CAST(max(w) AS INT) AS max_w,
         |  CAST(min(h) AS INT) AS min_h, CAST(max(h) AS INT) AS max_h
         |FROM d GROUP BY kind""".stripMargin
    },

    "mm_audio_meta" -> {
      import graft.multimodal.AudioHex._
      s"""WITH t AS (SELECT doc_id,
         |    list_extract([8000, 16000, 22050, 44100, 48000],
         |      CAST(doc_id % 5 AS INT) + 1) AS rate0,
         |    CAST(doc_id % 2 AS INT) + 1 AS ch0,
         |    (doc_id * 211) % 262144 + 4 AS db0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(${wavHex("rate0", "ch0", "db0", "//")})) AS hs
         |  FROM t),
         |f AS (SELECT doc_id,
         |    ${unhexLE("hs", ChannelsPos, 2, "strpos")} AS channels,
         |    ${unhexLE("hs", SampleRatePos, 4, "strpos")} AS sample_rate,
         |    ${unhexLE("hs", DataSizePos, 4, "strpos")} AS data_bytes
         |  FROM b),
         |g AS (SELECT doc_id, channels, sample_rate,
         |    data_bytes // (channels * 2) AS n_samples FROM f)
         |SELECT CAST(sample_rate AS BIGINT) AS sample_rate,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST(SUM(n_samples) AS BIGINT) AS sum_samples,
         |  CAST(SUM(n_samples * 1000 // sample_rate) AS BIGINT) AS sum_ms
         |FROM g GROUP BY 1, 2""".stripMargin
    },

    // same augmentation + extraction replayed in RE2; hosts via the
    // capture-group form of the shared pattern
    "llm_url_stats" -> {
      val re = urlRe
      val host = urlHostRe
      s"""WITH t AS (SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' see https://site' ||
         |      CAST(doc_id % 7 AS VARCHAR) || '.example.com/page/' ||
         |      CAST(doc_id AS VARCHAR) ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' via http://cdn' ||
         |      CAST(doc_id % 4 AS VARCHAR) || '.example.org'
         |      ELSE '' END AS t
         |  FROM documents),
         |u AS (SELECT doc_id,
         |    unnest(regexp_extract_all(t, '$re')) AS url
         |  FROM t),
         |h AS (SELECT doc_id,
         |    regexp_extract(url, '$host', 1) AS domain
         |  FROM u)
         |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM h GROUP BY domain""".stripMargin
    },

    // same augmentation, extraction and redaction replayed in RE2
    // over DuckDB regular strings (backslashes unprocessed — the
    // Scala literals above render identically here)
    "llm_pii_scrub" -> {
      // the Scala vals hold single backslashes; DuckDB regular
      // strings pass them through unprocessed — embed verbatim
      val em = emailRe
      val ph = phoneRe
      val ip = ipRe
      s"""WITH t AS (SELECT doc_id, lang, text ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||
         |      CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-' ||
         |      CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END ||
         |    CASE WHEN doc_id % 13 = 0 THEN ' host 10.' ||
         |      CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END AS t
         |  FROM documents),
         |f AS (SELECT lang,
         |    CAST(len(regexp_extract_all(t, '$em')) AS BIGINT) AS n_em,
         |    CAST(len(regexp_extract_all(t, '$ph')) AS BIGINT) AS n_ph,
         |    CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ip,
         |    CAST(length(regexp_replace(regexp_replace(regexp_replace(
         |      t, '$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g'),
         |      '$ip', '<IP>', 'g')) AS BIGINT) AS red_len
         |  FROM t)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_em) AS BIGINT) AS n_emails,
         |  CAST(SUM(n_ph) AS BIGINT) AS n_phones,
         |  CAST(SUM(n_ip) AS BIGINT) AS n_ips,
         |  CAST(SUM(CASE WHEN n_em + n_ph + n_ip > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_pii,
         |  CAST(SUM(red_len) AS BIGINT) AS redacted_chars
         |FROM f GROUP BY lang""".stripMargin
    },

    // closed-form replay of the 8/24-bit generator signals: the
    // engine must recover every sample through the actual payload
    // bytes (128-biased unsigned u8, signed s24le) — a bias,
    // byte-order, or rail disagreement hash-mismatches here
    "mm_audio_widths" ->
      """WITH t AS (SELECT doc_id,
        |    list_extract([8000, 22050, 44100, 48000],
        |      CAST(doc_id % 4 AS INT) + 1) AS rate0,
        |    CAST((doc_id // 2) % 2 AS INT) + 1 AS ch0
        |  FROM documents),
        |tn AS (SELECT doc_id, rate0, ch0,
        |    ch0 * (CAST(doc_id % 40 AS INT) + 5) AS nv0 FROM t),
        |sv AS (SELECT doc_id, rate0, ch0,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN ((doc_id * 131 + i * 241) % 256) - 128
        |      ELSE CASE WHEN ((doc_id * 7919 + i * 104729)
        |          % 16777216) >= 8388608
        |        THEN ((doc_id * 7919 + i * 104729) % 16777216)
        |          - 16777216
        |        ELSE ((doc_id * 7919 + i * 104729) % 16777216) END
        |    END AS s,
        |    CASE WHEN doc_id % 2 = 0 THEN 127 ELSE 8388607 END AS hi
        |  FROM (SELECT doc_id, rate0, ch0,
        |        unnest(range(0, nv0)) AS i FROM tn))
        |SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 24 END
        |    AS BIGINT) AS width,
        |  CAST(ch0 AS BIGINT) AS channels,
        |  CAST(rate0 AS BIGINT) AS sample_rate,
        |  CAST(COUNT(*) AS BIGINT) AS n_values,
        |  CAST(SUM(s * s) AS BIGINT) AS sum_sq,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak,
        |  CAST(SUM(CASE WHEN s = hi OR s = -hi - 1 THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_clipped
        |FROM sv GROUP BY 1, 2, 3, 4""".stripMargin,

    "mm_audio_levels" -> {
      import graft.multimodal.AudioHex._
      s"""WITH t AS (SELECT doc_id,
         |    list_extract([8000, 16000, 22050, 44100, 48000],
         |      CAST(doc_id % 5 AS INT) + 1) AS rate0,
         |    CAST(doc_id % 2 AS INT) + 1 AS ch0,
         |    (doc_id % 24 + 4) * (CAST(doc_id % 2 AS INT) + 1) AS nv0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(concat(
         |      ${wavHex("rate0", "ch0", "nv0 * 2", "//")},
         |      ${pcmPayloadHexDuck("nv0", SampleExpr)}))) AS hs
         |  FROM t),
         |f AS (SELECT doc_id, hs,
         |    ${unhexLE("hs", ChannelsPos, 2, "strpos")} AS channels,
         |    ${unhexLE("hs", SampleRatePos, 4, "strpos")} AS sample_rate,
         |    ${unhexLE("hs", DataSizePos, 4, "strpos")} AS data_bytes
         |  FROM b),
         |smp AS (SELECT doc_id, channels, sample_rate,
         |    ${unhexLEat("hs", s"$PayloadPos + 4 * i", "strpos")} AS u
         |  FROM (SELECT doc_id, channels, sample_rate, hs,
         |        unnest(range(0, data_bytes // 2)) AS i FROM f)),
         |sv AS (SELECT doc_id, channels, sample_rate,
         |    CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
         |  FROM smp),
         |g AS (SELECT doc_id, channels, sample_rate,
         |    COUNT(*) AS nv, SUM(s * s) AS ssq, MAX(ABS(s)) AS pk,
         |    SUM(CASE WHEN s = 32767 OR s = -32768 THEN 1 ELSE 0 END)
         |      AS cl
         |  FROM sv GROUP BY 1, 2, 3)
         |SELECT CAST(sample_rate AS BIGINT) AS sample_rate,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST(SUM(nv) AS BIGINT) AS sum_values,
         |  CAST(SUM(ssq) AS BIGINT) AS sum_sq,
         |  CAST(MAX(pk) AS BIGINT) AS max_peak,
         |  CAST(SUM(cl) AS BIGINT) AS sum_clipped
         |FROM g GROUP BY 1, 2""".stripMargin
    },

    // float-header replay: every field incl. bits read positionally
    // from the rebuilt fmt-3 header; n_samples re-derived from the
    // declared data size over the 4-byte-per-value block align
    "mm_audio_float_meta" -> {
      import graft.multimodal.AudioHex._
      s"""WITH t AS (SELECT doc_id,
         |    list_extract([44100, 48000, 96000],
         |      CAST(doc_id % 3 AS INT) + 1) AS rate0,
         |    CAST(doc_id % 2 AS INT) + 1 AS ch0,
         |    (doc_id * 37) % 96000 + 4 AS nv0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(${wavHexFloat("rate0", "ch0", "nv0", "//")}))
         |      AS hs
         |  FROM t),
         |f AS (SELECT doc_id,
         |    ${unhexLE("hs", ChannelsPos, 2, "strpos")} AS channels,
         |    ${unhexLE("hs", SampleRatePos, 4, "strpos")} AS sample_rate,
         |    ${unhexLE("hs", BitsPos, 2, "strpos")} AS bits,
         |    ${unhexLE("hs", DataSizePos, 4, "strpos")} AS data_bytes
         |  FROM b)
         |SELECT CAST(sample_rate AS BIGINT) AS sample_rate,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(bits AS BIGINT) AS bits,
         |  CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST(SUM(data_bytes // (channels * 4)) AS BIGINT)
         |    AS sum_samples
         |FROM f GROUP BY 1, 2, 3""".stripMargin
    },

    // big-endian bit-pack replay: the nibble-aligned STREAMINFO
    // geometry (5-digit rate, (ch−1)·2 nibble, bits−1 nibble,
    // 8-digit total) re-read positionally — independent of the
    // engine's shift arithmetic
    "mm_flac_meta" -> {
      import graft.multimodal.AudioHex._
      import graft.multimodal.ImageHex.unhexN
      s"""WITH t AS (SELECT doc_id,
         |    list_extract([8000, 16000, 22050, 32000, 44100,
         |      48000, 88200, 96000], CAST(doc_id % 8 AS INT) + 1)
         |      AS rate0,
         |    CAST((doc_id * 3) % 8 AS INT) + 1 AS ch0,
         |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits0,
         |    (doc_id * 97) % 100000000 AS total0,
         |    doc_id % 2 = 1 AS haspad0,
         |    CAST(doc_id % 16 AS INT) AS pad0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(${flacHex("rate0", "ch0", "bits0",
              "total0", "haspad0", "pad0", "//")})) AS hs
         |  FROM t),
         |f AS (SELECT doc_id,
         |    ${unhexN("hs", FlacRatePos, 5, "strpos")} AS sample_rate,
         |    ${unhexN("hs", FlacChNibblePos, 1, "strpos")} // 2 + 1
         |      AS channels,
         |    ${unhexN("hs", FlacBitsNibblePos, 1, "strpos")} + 1
         |      AS bits,
         |    ${unhexN("hs", FlacTotalPos, 8, "strpos")} AS n_samples
         |  FROM b)
         |SELECT CAST(sample_rate AS BIGINT) AS sample_rate,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(bits AS BIGINT) AS bits,
         |  CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST(SUM(n_samples) AS BIGINT) AS sum_samples,
         |  CAST(SUM(n_samples * 1000 // sample_rate) AS BIGINT)
         |    AS sum_ms
         |FROM f GROUP BY 1, 2, 3""".stripMargin
    },

    // positional byte replay: the oracle rebuilds the identical
    // FLAC bytes and re-reads every sample from its hex position —
    // VERBATIM values at fixed stride, the CONSTANT value expanded
    // over the whole block (the semantics a wrong decoder misses)
    "mm_flac_pcm" -> {
      import graft.multimodal.AudioHex._
      s"""WITH t AS (SELECT doc_id,
         |    list_extract([8000, 22050, 44100, 48000],
         |      CAST(doc_id % 4 AS INT) + 1) AS rate0,
         |    CAST(doc_id % 2 AS INT) + 1 AS ch0,
         |    CAST(doc_id % 12 + 4 AS INT) AS ns0
         |  FROM documents),
         |b AS (SELECT doc_id, rate0, ch0, ns0,
         |    hex(from_hex(concat(
         |      ${flacHex("rate0", "ch0", "16", "ns0", "false", "0",
               "//")},
         |      ${flacFrameHex("ch0", "ns0", FlacSampleExpr,
               FlacConstExpr, "//", spark = false)}))) AS hs
         |  FROM t),
         |vs AS (SELECT doc_id, rate0, ch0,
         |    ${unhexBEat("hs", s"$FlacSamplePosBase + 4 * i",
               "strpos")} AS u
         |  FROM (SELECT doc_id, rate0, ch0, hs,
         |        unnest(range(0, ns0)) AS i FROM b)),
         |cs AS (SELECT doc_id, rate0, ch0,
         |    ${unhexBEat("hs", flacConstPos("ns0"), "strpos")} AS u
         |  FROM (SELECT doc_id, rate0, ch0, ns0, hs,
         |        unnest(range(0, ns0)) AS j FROM b WHERE ch0 = 2)),
         |sv AS (SELECT doc_id, rate0, ch0,
         |    CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
         |  FROM (SELECT * FROM vs UNION ALL SELECT * FROM cs)),
         |g AS (SELECT doc_id, rate0, ch0,
         |    COUNT(*) AS nv, CAST(SUM(s * s) AS BIGINT) AS ssq,
         |    MAX(ABS(s)) AS pk,
         |    CAST(SUM(CASE WHEN s = 32767 OR s = -32768
         |      THEN 1 ELSE 0 END) AS BIGINT) AS cl
         |  FROM sv GROUP BY 1, 2, 3)
         |SELECT CAST(rate0 AS BIGINT) AS sample_rate,
         |  CAST(ch0 AS BIGINT) AS channels,
         |  CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST(SUM(nv) AS BIGINT) AS sum_values,
         |  CAST(SUM(ssq) AS BIGINT) AS sum_sq,
         |  CAST(MAX(pk) AS BIGINT) AS max_peak,
         |  CAST(SUM(cl) AS BIGINT) AS sum_clipped
         |FROM g GROUP BY 1, 2""".stripMargin
    },

    // closed-form sample replay (the warc_gz round-trip
    // discipline): the engine routes these samples through a real
    // Rice encode -> decode; the oracle computes them directly —
    // any bitstream disagreement mismatches on the energy sum
    "mm_flac_fixed" ->
      """WITH t AS (SELECT doc_id,
        |    list_extract([8000, 22050, 44100, 48000],
        |      CAST(doc_id % 4 AS INT) + 1) AS rate0,
        |    CAST(doc_id % 2 AS INT) + 1 AS ch0,
        |    CAST(doc_id % 12 + 4 AS INT) AS ns0
        |  FROM documents),
        |tc AS (SELECT doc_id, rate0, ch0, ns0,
        |    unnest(range(0, ch0)) AS c FROM t),
        |sv AS (SELECT doc_id, rate0, ch0,
        |    (doc_id % 1000) + 3 * i +
        |      ((doc_id * 7 + i * 13 + c * 11) % 5) AS s
        |  FROM (SELECT doc_id, rate0, ch0, c,
        |        unnest(range(0, ns0)) AS i FROM tc)),
        |g AS (SELECT doc_id, rate0, ch0,
        |    COUNT(*) AS nv, CAST(SUM(s * s) AS BIGINT) AS ssq,
        |    MAX(ABS(s)) AS pk,
        |    CAST(SUM(CASE WHEN s = 32767 OR s = -32768
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cl
        |  FROM sv GROUP BY 1, 2, 3)
        |SELECT CAST(rate0 AS BIGINT) AS sample_rate,
        |  CAST(ch0 AS BIGINT) AS channels,
        |  CAST(COUNT(*) AS BIGINT) AS n_clips,
        |  CAST(SUM(nv) AS BIGINT) AS sum_values,
        |  CAST(SUM(ssq) AS BIGINT) AS sum_sq,
        |  CAST(MAX(pk) AS BIGINT) AS max_peak,
        |  CAST(SUM(cl) AS BIGINT) AS sum_clipped
        |FROM g GROUP BY 1, 2""".stripMargin,

    // LPC twin of mm_flac_fixed: the oracle replays the closed-form
    // sampleL(c, i) meter — the LPC order/precision/shift/
    // coefficients shape only the BITSTREAM the engine must decode,
    // never the expected samples, so encode/decode disagreements
    // about the quantized recurrence hash-mismatch here
    "mm_flac_lpc" ->
      """WITH t AS (SELECT doc_id,
        |    list_extract([8000, 22050, 44100, 48000],
        |      CAST(doc_id % 4 AS INT) + 1) AS rate0,
        |    CAST(doc_id % 2 AS INT) + 1 AS ch0,
        |    CAST(doc_id % 12 + 4 AS INT) AS ns0
        |  FROM documents),
        |tc AS (SELECT doc_id, rate0, ch0, ns0,
        |    unnest(range(0, ch0)) AS c FROM t),
        |sv AS (SELECT doc_id, rate0, ch0,
        |    (doc_id % 800) + 5 * i +
        |      ((doc_id * 11 + i * 7 + c * 13) % 9) AS s
        |  FROM (SELECT doc_id, rate0, ch0, c,
        |        unnest(range(0, ns0)) AS i FROM tc)),
        |g AS (SELECT doc_id, rate0, ch0,
        |    COUNT(*) AS nv, CAST(SUM(s * s) AS BIGINT) AS ssq,
        |    MAX(ABS(s)) AS pk,
        |    CAST(SUM(CASE WHEN s = 32767 OR s = -32768
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cl
        |  FROM sv GROUP BY 1, 2, 3)
        |SELECT CAST(rate0 AS BIGINT) AS sample_rate,
        |  CAST(ch0 AS BIGINT) AS channels,
        |  CAST(COUNT(*) AS BIGINT) AS n_clips,
        |  CAST(SUM(nv) AS BIGINT) AS sum_values,
        |  CAST(SUM(ssq) AS BIGINT) AS sum_sq,
        |  CAST(MAX(pk) AS BIGINT) AS max_peak,
        |  CAST(SUM(cl) AS BIGINT) AS sum_clipped
        |FROM g GROUP BY 1, 2""".stripMargin,

    // stereo twin of mm_flac_fixed: the oracle replays the
    // closed-form LEFT/RIGHT meter — the decorrelation mode, side
    // widths, and parity trick shape only the BITSTREAM the engine
    // must reconstruct through, never the expected samples
    "mm_flac_stereo" ->
      """WITH t AS (SELECT doc_id,
        |    list_extract([8000, 22050, 44100, 48000],
        |      CAST(doc_id % 4 AS INT) + 1) AS rate0,
        |    CAST(doc_id % 12 + 4 AS INT) AS ns0
        |  FROM documents),
        |tc AS (SELECT doc_id, rate0, ns0,
        |    unnest(range(0, 2)) AS c FROM t),
        |sv AS (SELECT doc_id, rate0,
        |    (doc_id % 1000) + 3 * i +
        |      ((doc_id * 7 + i * 13 + c * 11) % 5) AS s
        |  FROM (SELECT doc_id, rate0, c,
        |        unnest(range(0, ns0)) AS i FROM tc)),
        |g AS (SELECT doc_id, rate0,
        |    COUNT(*) AS nv, CAST(SUM(s * s) AS BIGINT) AS ssq,
        |    MAX(ABS(s)) AS pk,
        |    CAST(SUM(CASE WHEN s = 32767 OR s = -32768
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cl
        |  FROM sv GROUP BY 1, 2)
        |SELECT CAST(rate0 AS BIGINT) AS sample_rate,
        |  CAST(2 AS BIGINT) AS channels,
        |  CAST(COUNT(*) AS BIGINT) AS n_clips,
        |  CAST(SUM(nv) AS BIGINT) AS sum_values,
        |  CAST(SUM(ssq) AS BIGINT) AS sum_sq,
        |  CAST(MAX(pk) AS BIGINT) AS max_peak,
        |  CAST(SUM(cl) AS BIGINT) AS sum_clipped
        |FROM g GROUP BY 1, 2""".stripMargin,

    // wasted-bits twin of mm_flac_fixed: the oracle replays the
    // SHIFTED meter (base << k) in closed form — the reduced coding
    // width, unary header, and shift-after-recurrence order shape
    // only the bitstream the engine must decode through
    "mm_flac_wasted" ->
      """WITH t AS (SELECT doc_id,
        |    list_extract([8000, 22050, 44100, 48000],
        |      CAST(doc_id % 4 AS INT) + 1) AS rate0,
        |    CAST(doc_id % 2 AS INT) + 1 AS ch0,
        |    CAST(doc_id % 12 + 4 AS INT) AS ns0,
        |    CAST(doc_id % 3 + 1 AS INT) AS k0
        |  FROM documents),
        |tc AS (SELECT doc_id, rate0, ch0, ns0, k0,
        |    unnest(range(0, ch0)) AS c FROM t),
        |sv AS (SELECT doc_id, rate0, ch0,
        |    ((doc_id % 1000) + 3 * i +
        |      ((doc_id * 7 + i * 13 + c * 11) % 5)) * (1 << k0) AS s
        |  FROM (SELECT doc_id, rate0, ch0, k0, c,
        |        unnest(range(0, ns0)) AS i FROM tc)),
        |g AS (SELECT doc_id, rate0, ch0,
        |    COUNT(*) AS nv, CAST(SUM(s * s) AS BIGINT) AS ssq,
        |    MAX(ABS(s)) AS pk,
        |    CAST(SUM(CASE WHEN s = 32767 OR s = -32768
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cl
        |  FROM sv GROUP BY 1, 2, 3)
        |SELECT CAST(rate0 AS BIGINT) AS sample_rate,
        |  CAST(ch0 AS BIGINT) AS channels,
        |  CAST(COUNT(*) AS BIGINT) AS n_clips,
        |  CAST(SUM(nv) AS BIGINT) AS sum_values,
        |  CAST(SUM(ssq) AS BIGINT) AS sum_sq,
        |  CAST(MAX(pk) AS BIGINT) AS max_peak,
        |  CAST(SUM(cl) AS BIGINT) AS sum_clipped
        |FROM g GROUP BY 1, 2""".stripMargin,

    // the oracle is DEFLATE-blind: length + md5 of the source text;
    // the engine must reproduce the bytes through its own inflater
    "llm_inflate" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents""".stripMargin,

    // the oracle knows nothing about zstd either: original-text
    // length + digest, so the whole FSE layer must reproduce the
    // input bit-for-bit
    "llm_zstd_fse" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents""".stripMargin,

    // same oracle shape for the REAL-codec pin: the reference
    // implementation compresses, the from-scratch walk must invert
    "llm_zstd_real" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents""".stripMargin,

    // splittable ingest: header-only boundary discovery +
    // independent per-frame decode must reassemble the original
    "llm_zstd_split" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents""".stripMargin,

    // and for the dictionary layer: trained dict + reference
    // compressor in, the engine's own §5 decode out
    "llm_zstd_dict" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents""".stripMargin,

    // NB training replay: the labeled fixture's grammar shared
    // string-for-string, counts over the training split
    "llm_langid_train" ->
      s"""WITH $langIdOracleFixtureCte,
         |tr AS (SELECT lang_true AS lang, unnest(grams) AS gram
         |  FROM g WHERE doc_id % 5 <> 3)
         |SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt
         |FROM tr GROUP BY 1, 2""".stripMargin,

    // held-out scoring replay over the STORED counts (re-derived
    // identically): exact bin-length floor-log2 weights, add-one
    // smoothing, argmax with lang-ascending tie-break
    "llm_langid_score" ->
      s"""WITH $langIdOracleFixtureCte,
         |tr AS (SELECT lang_true AS lang, unnest(grams) AS gram
         |  FROM g WHERE doc_id % 5 <> 3),
         |cnts AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tr GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot
         |  FROM cnts GROUP BY 1),
         |voc AS (SELECT CAST(count(DISTINCT gram) AS BIGINT) AS v
         |  FROM cnts),
         |wts AS (SELECT c.lang AS cand, c.gram,
         |    CAST(length(bin(c.cnt + 1)) - 1
         |      - (length(bin(t.tot + voc.v)) - 1) AS BIGINT) AS w
         |  FROM cnts c JOIN tot t ON c.lang = t.lang, voc),
         |flo AS (SELECT t.lang AS cand,
         |    CAST(0 - (length(bin(t.tot + voc.v)) - 1) AS BIGINT) AS w0
         |  FROM tot t, voc),
         |te AS (SELECT doc_id, lang_true, unnest(grams) AS gram
         |  FROM g WHERE doc_id % 5 = 3),
         |sc AS (SELECT te.doc_id, te.lang_true, f.cand,
         |    CAST(SUM(COALESCE(w.w, f.w0)) AS BIGINT) AS score
         |  FROM te CROSS JOIN flo f
         |  LEFT JOIN wts w ON w.cand = f.cand AND w.gram = te.gram
         |  GROUP BY 1, 2, 3),
         |win AS (SELECT doc_id, lang_true, cand AS pred, score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, cand ASC) AS rn FROM sc)
         |SELECT lang_true, pred,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(score) AS BIGINT) AS margin_sum
         |FROM win WHERE rn = 1
         |GROUP BY 1, 2""".stripMargin,

    // closed-form verdict replay: the robots text shapes only what
    // the engine must parse; verdicts derive from doc_id % 6 and
    // the domain-length parity that gates the /draft- rule
    "llm_robots" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(doc_id % 6 AS INT) AS pc,
        |    length(source) % 2 = 0 AS hd
        |  FROM documents)
        |SELECT doc_id,
        |  CASE pc WHEN 2 THEN false WHEN 4 THEN false
        |    WHEN 5 THEN NOT hd ELSE true END AS allowed,
        |  CAST(CASE pc WHEN 2 THEN 9 WHEN 3 THEN 16 WHEN 4 THEN 7
        |    WHEN 5 THEN CASE WHEN hd THEN 7 ELSE 0 END
        |    ELSE 0 END AS BIGINT) AS match_len
        |FROM d""".stripMargin,

    // closed-form parse census: 2 groups, 3 stacked agents, the
    // crawler group carrying 3 or 4 rules by domain parity
    "llm_robots_rules" ->
      """SELECT source,
        |  CAST(2 AS BIGINT) AS n_groups,
        |  CAST(3 AS BIGINT) AS n_agents,
        |  CAST(CASE WHEN length(source) % 2 = 0 THEN 4 ELSE 3 END
        |    AS BIGINT) AS n_rules_crawler,
        |  CAST(1 AS BIGINT) AS n_rules_star
        |FROM (SELECT DISTINCT source FROM documents)""".stripMargin,

    // cross-library check: DuckDB's own nfc_normalize (independent
    // Unicode implementation), decomposed sequences built via chr()
    "llm_text_normalize" ->
      """WITH r AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text
        |         WHEN doc_id % 3 = 1 THEN text || ' cafe' ||
        |           chr(769) || ' no' || chr(776) || 'el'
        |         ELSE text || ' caf' || chr(233) || ' d' ||
        |           chr(233) || 'j' || chr(224) END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(raw) AS BIGINT) AS n_chars_raw,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars_nfc,
        |  md5(nfc_normalize(raw)) AS digest
        |FROM r""".stripMargin,

    // page grammar shared string-for-string; the oracle re-runs the
    // block split, tag strip, anchor-text extraction and the
    // integer link-density gate in RE2
    "llm_html_blocks" ->
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title></head><body><div><a href="/">Home</a> ' ||
        |    '<a href="/about">About us</a></div><p>' || text ||
        |    '</p><div><a href="/rel">' || substr(text, 1, 24) ||
        |    '</a></div><p>tiny</p><div><a href="/tos">Terms</a> ' ||
        |    '<a href="/priv">Privacy</a> (c) 2026 Site</div>' ||
        |    '</body></html>' AS html
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(html, '</p>|</div>'))
        |      AS block FROM h),
        |m AS (SELECT doc_id,
        |    length(regexp_replace(block, '<[^>]+>', '', 'g')) AS tlen,
        |    COALESCE(list_sum(list_transform(
        |      regexp_extract_all(block, '<a [^>]*>([^<]*)</a>', 1),
        |      x -> length(x))), 0) AS llen
        |  FROM b)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(CASE WHEN tlen >= 25 AND 2 * llen < tlen
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN tlen >= 25 AND 2 * llen < tlen
        |    THEN tlen ELSE 0 END) AS BIGINT) AS kept_chars,
        |  CAST(SUM(llen) AS BIGINT) AS link_chars
        |FROM m GROUP BY 1""".stripMargin,

    // Vorbis-entropy twin of mm_flac_fixed: the oracle replays the
    // decoded SYMBOL census in closed form — the per-book length
    // multisets, header paths (dense/sparse/ordered), canonical
    // codeword assignment and LSB-first packing shape only the
    // BITSTREAM the engine must decode through, never the symbols
    "mm_vorbis_books" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(doc_id % 3 AS BIGINT) + 1 AS nb FROM documents),
        |b AS (SELECT doc_id, nb, unnest(range(0, nb)) AS j FROM t),
        |bk AS (SELECT doc_id, nb, j,
        |    4 + (doc_id + 3 * j) % 13 AS used,
        |    (doc_id + j) % 3 AS kind,
        |    1 + (doc_id + j) % 4 AS dims
        |  FROM b),
        |bk2 AS (SELECT doc_id, nb, j, used, dims,
        |    used + CASE WHEN kind = 1 THEN 1 + doc_id % 3
        |               ELSE 0 END AS entries
        |  FROM bk),
        |gb AS (SELECT doc_id, nb, SUM(entries) AS ent,
        |    SUM(used) AS us, SUM(dims) AS dm
        |  FROM bk2 GROUP BY 1, 2),
        |s AS (SELECT doc_id, nb,
        |    unnest(range(0, doc_id % 24 + 8)) AS k FROM t),
        |sy AS (SELECT s.doc_id, s.k,
        |    (s.doc_id * 3 + 7 * s.k) % b2.used AS e
        |  FROM s JOIN bk2 b2
        |    ON s.doc_id = b2.doc_id AND b2.j = s.k % s.nb),
        |gs AS (SELECT doc_id, COUNT(*) AS ns, SUM(e) AS se,
        |    SUM((k + 1) * e) AS swe FROM sy GROUP BY 1)
        |SELECT CAST(gb.nb AS BIGINT) AS n_books,
        |  CAST(COUNT(*) AS BIGINT) AS n_clips,
        |  CAST(SUM(gb.ent) AS BIGINT) AS sum_entries,
        |  CAST(SUM(gb.us) AS BIGINT) AS sum_used,
        |  CAST(SUM(gb.dm) AS BIGINT) AS sum_dims,
        |  CAST(SUM(gs.ns) AS BIGINT) AS sum_syms,
        |  CAST(SUM(gs.se) AS BIGINT) AS sum_sym,
        |  CAST(SUM(gs.swe) AS BIGINT) AS sum_wsym
        |FROM gb JOIN gs ON gb.doc_id = gs.doc_id
        |GROUP BY 1""".stripMargin,

    // the oracle replays the temperature transform (exact isqrt),
    // the integer-division budget split, and the same seeded-md5
    // bottom-k pick (first-8-hex integer key + doc_id tiebreak —
    // the bounded-heap kernel's total order, shared with the
    // llm_sample_* oracles); zero-quota sources drop on both sides
    "llm_mix_temperature" ->
      s"""WITH m AS (SELECT source, SUM(n_chars) AS mass
         |  FROM documents GROUP BY 1),
         |sq AS (SELECT source, mass,
         |    CAST(floor(sqrt(mass)) AS BIGINT) AS sq FROM m),
         |t AS (SELECT SUM(sq) AS tot FROM sq),
         |q AS (SELECT source, mass, sq,
         |    CAST($mixTempBudget * sq // tot AS BIGINT) AS quota
         |  FROM sq, t),
         |hx AS (SELECT doc_id, source,
         |    md5('mixt:' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |wx AS (SELECT doc_id, source,
         |    ${hexHashExpr("strpos")} AS wh FROM hx),
         |r AS (SELECT doc_id, source,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY wh ASC, doc_id ASC) AS rnk
         |  FROM wx)
         |SELECT q.source,
         |  CAST(q.mass AS BIGINT) AS mass,
         |  q.quota,
         |  CAST(COUNT(*) AS BIGINT) AS n_picked,
         |  CAST(SUM(r.doc_id) AS BIGINT) AS picked_sum
         |FROM r JOIN q ON r.source = q.source
         |WHERE r.rnk <= q.quota
         |GROUP BY 1, 2, 3""".stripMargin,

    // residue-classification oracle: the class vector replayed by
    // closed-form divmod over exact integer powers — classword
    // entries, unpack order and ragged tails shape only the bits
    "mm_vorbis_residue" ->
      """WITH t AS (SELECT doc_id,
        |    2 + doc_id % 3 AS c,
        |    1 + doc_id % 4 AS d,
        |    4 + doc_id % 13 AS u,
        |    2 + doc_id % 6 AS n
        |  FROM documents),
        |j AS (SELECT doc_id, c, d, u, n,
        |    unnest(range(0, n)) AS jj FROM t),
        |cl AS (SELECT doc_id, n, d, jj,
        |    (((doc_id * 3 + 7 * (jj // d)) % u) //
        |      CASE d - 1 - (jj % d) WHEN 0 THEN 1 WHEN 1 THEN c
        |        WHEN 2 THEN c * c ELSE c * c * c END) % c AS cls
        |  FROM j)
        |SELECT doc_id,
        |  CAST(MAX(n) AS BIGINT) AS n_partitions,
        |  CAST(MAX((n + d - 1) // d) AS BIGINT) AS n_classwords,
        |  CAST(SUM(cls) AS BIGINT) AS class_sum,
        |  CAST(SUM((jj + 1) * cls) AS BIGINT) AS class_wsum
        |FROM cl GROUP BY 1""".stripMargin,

    // closed-form replay of the value-pass accumulation: per
    // cascade-1 partition, the fixture's entries run through the
    // lookup-1/2 multiplicand indexing and land at positional slots
    "mm_vorbis_residue_apply" ->
      """WITH t AS (SELECT doc_id,
        |    2 + doc_id % 3 AS ncls,
        |    1 + doc_id % 4 AS d0,
        |    4 + doc_id % 13 AS u0,
        |    2 + doc_id % 6 AS n,
        |    2 * (1 + doc_id % 3) AS psize
        |  FROM documents),
        |p AS (SELECT doc_id, ncls, d0, u0, n, psize,
        |    unnest(range(0, n)) AS pp FROM t),
        |pc AS (SELECT *,
        |    (((doc_id * 3 + 7 * (pp // d0)) % u0) //
        |      CASE d0 - 1 - (pp % d0) WHEN 0 THEN 1 WHEN 1 THEN ncls
        |        WHEN 2 THEN ncls * ncls
        |        ELSE ncls * ncls * ncls END) % ncls AS cls
        |  FROM p),
        |pb AS (SELECT *,
        |    (doc_id + cls) % 2 AS casc,
        |    1 + (doc_id + cls) % 2 AS dv,
        |    4 + (doc_id + 5 * cls) % 5 AS uv,
        |    1 + (doc_id + cls) % 2 AS lt,
        |    3 + (doc_id + cls) % 3 AS vb
        |  FROM pc),
        |vecs AS (SELECT doc_id, pp, psize, cls, dv, uv, lt, vb,
        |    unnest(range(0, psize // dv)) AS k
        |  FROM pb WHERE casc = 1),
        |slots AS (SELECT doc_id, pp, psize, cls, dv, lt, vb, k, i.i,
        |    (doc_id + 7 * pp + 3 * k) % uv AS e
        |  FROM vecs, (SELECT unnest([0, 1]) AS i) i
        |  WHERE i.i < dv),
        |vals AS (SELECT doc_id, pp * psize + k * dv + i AS slot,
        |    (doc_id + 3 * cls + 5 * (CASE WHEN lt = 2 THEN e * dv + i
        |      WHEN dv = 1 THEN e
        |      WHEN i = 0 THEN e % 2 ELSE (e // 2) % 2 END)) %
        |      (CASE vb WHEN 3 THEN 8 WHEN 4 THEN 16 ELSE 32 END) AS v
        |  FROM slots),
        |agg AS (SELECT doc_id,
        |    CAST(SUM(v) AS BIGINT) AS res_sum,
        |    CAST(SUM((slot + 1) * v) AS BIGINT) AS res_wsum,
        |    CAST(SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_nonzero
        |  FROM vals GROUP BY 1),
        |nv AS (SELECT doc_id,
        |    CAST(SUM(psize // dv) AS BIGINT) AS n_values
        |  FROM pb WHERE casc = 1 GROUP BY 1),
        |base AS (SELECT doc_id, CAST(n * psize AS BIGINT) AS n_slots
        |  FROM t)
        |SELECT b.doc_id, b.n_slots,
        |  COALESCE(nv.n_values, 0) AS n_values,
        |  COALESCE(a.res_sum, 0) AS res_sum,
        |  COALESCE(a.res_wsum, 0) AS res_wsum,
        |  COALESCE(a.n_nonzero, 0) AS n_nonzero
        |FROM base b LEFT JOIN nv ON b.doc_id = nv.doc_id
        |LEFT JOIN agg a ON b.doc_id = a.doc_id""".stripMargin,

    // the apply oracle with the §3.2.2 mapping applied term by term
    // (minimum + delta·multiplicand, both integers by fixture
    // construction) and the positional weight at the ABSOLUTE
    // spectrum offset (begin = 8)
    "mm_vorbis_residue_scale" ->
      """WITH t AS (SELECT doc_id,
        |    2 + doc_id % 3 AS ncls,
        |    1 + doc_id % 4 AS d0,
        |    4 + doc_id % 13 AS u0,
        |    2 + doc_id % 6 AS n,
        |    2 * (1 + doc_id % 3) AS psize
        |  FROM documents),
        |p AS (SELECT doc_id, ncls, d0, u0, n, psize,
        |    unnest(range(0, n)) AS pp FROM t),
        |pc AS (SELECT *,
        |    (((doc_id * 3 + 7 * (pp // d0)) % u0) //
        |      CASE d0 - 1 - (pp % d0) WHEN 0 THEN 1 WHEN 1 THEN ncls
        |        WHEN 2 THEN ncls * ncls
        |        ELSE ncls * ncls * ncls END) % ncls AS cls
        |  FROM p),
        |pb AS (SELECT *,
        |    (doc_id + cls) % 2 AS casc,
        |    1 + (doc_id + cls) % 2 AS dv,
        |    4 + (doc_id + 5 * cls) % 5 AS uv,
        |    1 + (doc_id + cls) % 2 AS lt,
        |    3 + (doc_id + cls) % 3 AS vb,
        |    ((doc_id + 11 * cls) % 41) - 20 AS minc,
        |    1 + (doc_id + 7 * cls) % 9 AS deltac
        |  FROM pc),
        |vecs AS (SELECT doc_id, pp, psize, cls, dv, uv, lt, vb,
        |    minc, deltac,
        |    unnest(range(0, psize // dv)) AS k
        |  FROM pb WHERE casc = 1),
        |slots AS (SELECT doc_id, pp, psize, cls, dv, lt, vb,
        |    minc, deltac, k, i.i,
        |    (doc_id + 7 * pp + 3 * k) % uv AS e
        |  FROM vecs, (SELECT unnest([0, 1]) AS i) i
        |  WHERE i.i < dv),
        |vals AS (SELECT doc_id, 8 + pp * psize + k * dv + i AS slot,
        |    minc + deltac * (
        |      (doc_id + 3 * cls + 5 * (CASE WHEN lt = 2 THEN e * dv + i
        |        WHEN dv = 1 THEN e
        |        WHEN i = 0 THEN e % 2 ELSE (e // 2) % 2 END)) %
        |      (CASE vb WHEN 3 THEN 8 WHEN 4 THEN 16 ELSE 32 END)) AS v
        |  FROM slots),
        |agg AS (SELECT doc_id,
        |    CAST(SUM(v) AS BIGINT) AS sc_sum,
        |    CAST(SUM((slot + 1) * v) AS BIGINT) AS sc_wsum,
        |    CAST(SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_nonzero
        |  FROM vals GROUP BY 1),
        |nv AS (SELECT doc_id,
        |    CAST(SUM(psize // dv) AS BIGINT) AS n_values
        |  FROM pb WHERE casc = 1 GROUP BY 1),
        |base AS (SELECT doc_id, CAST(n * psize AS BIGINT) AS n_slots
        |  FROM t)
        |SELECT b.doc_id, b.n_slots,
        |  COALESCE(nv.n_values, 0) AS n_values,
        |  COALESCE(a.sc_sum, 0) AS sc_sum,
        |  COALESCE(a.sc_wsum, 0) AS sc_wsum,
        |  COALESCE(a.n_nonzero, 0) AS n_nonzero
        |FROM base b LEFT JOIN nv ON b.doc_id = nv.doc_id
        |LEFT JOIN agg a ON b.doc_id = a.doc_id""".stripMargin,

    // frame-census oracle: the decoded-byte SUM replayed term by
    // term — frame grammar, descriptors and block headers shape
    // only the bytes the walk must regenerate through
    "mm_zstd_frames" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(doc_id % 3 AS BIGINT) + 1 AS nf,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS nskip,
        |    5 + doc_id % 9 AS el
        |  FROM documents),
        |f AS (SELECT doc_id, nf, nskip, el,
        |    unnest(range(0, nf)) AS fr FROM t),
        |fb AS (SELECT doc_id, fr, el,
        |    10 + (doc_id + fr) % 30 AS rl,
        |    (doc_id + fr) % 2 = 0 AS single,
        |    (doc_id + fr) % 5 AS we, doc_id % 8 AS wm,
        |    (doc_id + 3 * fr) % 251 AS rb
        |  FROM f),
        |raws AS (SELECT doc_id, fr,
        |    SUM((doc_id * 5 + 7 * k + fr) % 251) AS rsum
        |  FROM (SELECT doc_id, fr, unnest(range(0, rl)) AS k FROM fb)
        |  GROUP BY 1, 2),
        |fx AS (SELECT fb.doc_id, fb.rl + fb.el AS clen,
        |    raws.rsum + fb.el * fb.rb AS csum,
        |    CASE WHEN fb.single THEN 0
        |      ELSE (1 << (10 + we)) + (1 << (7 + we)) * wm
        |    END AS ws
        |  FROM fb JOIN raws
        |    ON fb.doc_id = raws.doc_id AND fb.fr = raws.fr)
        |SELECT t.doc_id,
        |  CAST(t.nf AS BIGINT) AS n_frames,
        |  CAST(t.nskip AS BIGINT) AS n_skippable,
        |  CAST(SUM(fx.clen) AS BIGINT) AS content_len,
        |  CAST(SUM(fx.csum) AS BIGINT) AS content_sum,
        |  CAST(SUM(fx.ws) AS BIGINT) AS window_sum
        |FROM t JOIN fx ON t.doc_id = fx.doc_id
        |GROUP BY 1, 2, 3""".stripMargin,

    // canonical-form oracle: expected strings stated per class in
    // closed form — the oracle never runs the normalization
    "llm_url_canon" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 6 AS INT)
        |    WHEN 0 THEN 'https://www.' || source ||
        |      '.com/a/doc-' || doc_id
        |    WHEN 1 THEN 'http://' || source ||
        |      '.example.com/x/~doc/' || doc_id
        |    WHEN 2 THEN 'https://' || source || '.example.com/'
        |    WHEN 3 THEN 'https://' || source || '.example.com/a//b/'
        |    WHEN 4 THEN 'https://' || source || '.example.com/p%2Fq/A'
        |    ELSE 'https://' || source || '.example.com/s?b=2&a=1'
        |  END AS canon_url
        |FROM documents""".stripMargin,

    // sample-table oracle: the census replayed closed-form; the
    // nested box framing and both stsz layouts shape only the bytes
    "mm_mp4_samples" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(doc_id % 50 AS BIGINT) + 1 AS ns,
        |    doc_id % 3 = 0 AS uni,
        |    100 + doc_id % 900 AS us,
        |    CAST(doc_id % 8 AS BIGINT) + 1 AS nc
        |  FROM documents),
        |ps AS (SELECT doc_id,
        |    SUM(100 + (doc_id * 3 + 7 * k) % 900) AS ssum,
        |    MAX(100 + (doc_id * 3 + 7 * k) % 900) AS smax
        |  FROM (SELECT doc_id, unnest(range(0, ns)) AS k
        |        FROM t WHERE NOT uni)
        |  GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(ns AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN uni THEN us * ns ELSE ps.ssum END
        |    AS BIGINT) AS sum_sizes,
        |  CAST(CASE WHEN uni THEN us ELSE ps.smax END
        |    AS BIGINT) AS max_size,
        |  CAST(nc AS BIGINT) AS n_chunks
        |FROM t LEFT JOIN ps ON t.doc_id = ps.doc_id""".stripMargin,

    // floor1 oracle: 7.2.4 unrolled for the fixture's static
    // neighbor chain (posts 2/3/4 predict from (0,64), (x2,64),
    // (x3,64)) — render_point's truncating division and the
    // room-saturation cases replayed algebraically; the engine
    // searches neighbors generically, so a neighbor/rounding/
    // saturation slip diverges here
    "mm_vorbis_floor" ->
      s"""WITH $vorbisFloorOracleCte
         |SELECT doc_id,
         |  CAST(5 AS BIGINT) AS n_values,
         |  CAST(y0 + y1 + fy2 + fy3 + fy4 AS BIGINT) AS y_sum,
         |  CAST(y0 + 2 * y1 + 3 * fy2 + 4 * fy3 + 5 * fy4
         |    AS BIGINT) AS y_wsum,
         |  CAST(2 + CASE WHEN v2 <> 0 OR v3 <> 0 THEN 1 ELSE 0 END
         |    + CASE WHEN v3 <> 0 OR v4 <> 0 THEN 1 ELSE 0 END
         |    + CASE WHEN v4 <> 0 THEN 1 ELSE 0 END
         |    AS BIGINT) AS n_step2
         |FROM f4""".stripMargin,

    // the synthesized integer curve replayed POSITIONALLY: the
    // step2-flagged points (multiplier-scaled), each of the 128
    // bins assigned its segment's render_point value (render_line's
    // error accumulation IS the floored line, so the per-bin closed
    // form is exact), the past-64 tail held at the last amplitude
    "mm_vorbis_floor_curve" ->
      s"""WITH $vorbisFloorOracleCte,
         |pts AS (
         |  SELECT doc_id, 0 AS px, 2 * y0 AS py FROM f4
         |  UNION ALL SELECT doc_id, x2, 2 * fy2 FROM f4
         |    WHERE v2 <> 0 OR v3 <> 0
         |  UNION ALL SELECT doc_id, x3, 2 * fy3 FROM f4
         |    WHERE v3 <> 0 OR v4 <> 0
         |  UNION ALL SELECT doc_id, x4, 2 * fy4 FROM f4
         |    WHERE v4 <> 0
         |  UNION ALL SELECT doc_id, 64, 2 * y1 FROM f4),
         |xs AS (SELECT doc_id, unnest(range(0, 64)) AS x FROM f4),
         |lo AS (SELECT x.doc_id, x.x, max(p.px) AS lx,
         |    arg_max(p.py, p.px) AS ly
         |  FROM xs x JOIN pts p
         |    ON p.doc_id = x.doc_id AND p.px <= x.x
         |  GROUP BY 1, 2),
         |hi AS (SELECT x.doc_id, x.x, min(p.px) AS hx,
         |    arg_min(p.py, p.px) AS hy
         |  FROM xs x JOIN pts p
         |    ON p.doc_id = x.doc_id AND p.px > x.x
         |  GROUP BY 1, 2),
         |yv AS (SELECT l.doc_id, l.x,
         |    CASE WHEN h.hy < l.ly
         |      THEN l.ly - (abs(h.hy - l.ly) * (l.x - l.lx))
         |        // (h.hx - l.lx)
         |      ELSE l.ly + (abs(h.hy - l.ly) * (l.x - l.lx))
         |        // (h.hx - l.lx) END AS y
         |  FROM lo l JOIN hi h ON l.doc_id = h.doc_id AND l.x = h.x),
         |tl AS (SELECT doc_id, unnest(range(64, 128)) AS x,
         |    2 * y1 AS y FROM f4),
         |curve AS (SELECT doc_id, x, y FROM yv
         |  UNION ALL SELECT doc_id, x, y FROM tl)
         |SELECT doc_id,
         |  CAST(128 AS BIGINT) AS n_bins,
         |  CAST(SUM(y) AS BIGINT) AS curve_sum,
         |  CAST(SUM((x + 1) * y) AS BIGINT) AS curve_wsum,
         |  CAST(MAX(y) AS BIGINT) AS curve_max
         |FROM curve GROUP BY 1""".stripMargin,



    // VQ twin of mm_vorbis_books: the oracle re-derives the lookup
    // census in closed form — lookup1_values by exact integer power
    // search, the explicit table count as entries×dims, and the
    // multiplicand SUM term by term; the bitstream layout (packed
    // floats, value_bits widths) shapes only what the engine walks
    "mm_vorbis_vq" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(doc_id % 3 AS BIGINT) + 1 AS nb FROM documents),
        |b AS (SELECT doc_id, nb, unnest(range(0, nb)) AS j FROM t),
        |bk AS (SELECT doc_id, nb, j,
        |    4 + (doc_id + 3 * j) % 13 AS used,
        |    (doc_id + j) % 3 AS kind,
        |    1 + (doc_id + j) % 4 AS dims,
        |    (doc_id + 2 * j) % 3 AS lt,
        |    3 + (doc_id + j) % 4 AS vb,
        |    (doc_id + j) % 2 AS seq
        |  FROM b),
        |bk2 AS (SELECT *, used + CASE WHEN kind = 1
        |    THEN 1 + doc_id % 3 ELSE 0 END AS entries FROM bk),
        |l1 AS (SELECT doc_id, j, MAX(v) AS lv
        |  FROM bk2, (SELECT unnest(range(1, 20)) AS v) r
        |  WHERE CASE dims WHEN 1 THEN v WHEN 2 THEN v * v
        |    WHEN 3 THEN v * v * v ELSE v * v * v * v END <= entries
        |  GROUP BY 1, 2),
        |bk3 AS (SELECT bk2.*, CASE lt WHEN 1 THEN l1.lv
        |    WHEN 2 THEN entries * dims ELSE 0 END AS cnt
        |  FROM bk2 LEFT JOIN l1
        |    ON bk2.doc_id = l1.doc_id AND bk2.j = l1.j),
        |mul AS (SELECT doc_id, j,
        |    SUM((doc_id + 3 * k + 5 * j) % (1 << vb)) AS msum
        |  FROM (SELECT doc_id, j, vb, unnest(range(0, cnt)) AS k
        |        FROM bk3)
        |  GROUP BY 1, 2),
        |gb AS (SELECT bk3.doc_id, bk3.nb,
        |    SUM(CASE WHEN lt = 1 THEN 1 ELSE 0 END) AS nl1,
        |    SUM(CASE WHEN lt = 2 THEN 1 ELSE 0 END) AS nl2,
        |    SUM(cnt) AS mc,
        |    SUM(COALESCE(mul.msum, 0)) AS ms,
        |    SUM(CASE WHEN lt <> 0 THEN seq ELSE 0 END) AS sq
        |  FROM bk3 LEFT JOIN mul
        |    ON bk3.doc_id = mul.doc_id AND bk3.j = mul.j
        |  GROUP BY 1, 2),
        |s AS (SELECT doc_id, nb,
        |    unnest(range(0, doc_id % 24 + 8)) AS k FROM t),
        |sy AS (SELECT s.doc_id,
        |    (s.doc_id * 3 + 7 * s.k) % b2.used AS e
        |  FROM s JOIN bk2 b2
        |    ON s.doc_id = b2.doc_id AND b2.j = s.k % s.nb),
        |gs AS (SELECT doc_id, SUM(e) AS se FROM sy GROUP BY 1)
        |SELECT CAST(gb.nb AS BIGINT) AS n_books,
        |  CAST(COUNT(*) AS BIGINT) AS n_clips,
        |  CAST(SUM(gb.nl1) AS BIGINT) AS sum_l1,
        |  CAST(SUM(gb.nl2) AS BIGINT) AS sum_l2,
        |  CAST(SUM(gb.mc) AS BIGINT) AS sum_mul_count,
        |  CAST(SUM(gb.ms) AS BIGINT) AS sum_mul,
        |  CAST(SUM(gb.sq) AS BIGINT) AS sum_seq,
        |  CAST(SUM(gs.se) AS BIGINT) AS sum_sym
        |FROM gb JOIN gs ON gb.doc_id = gs.doc_id
        |GROUP BY 1""".stripMargin,

    // POSITIONAL byte replay (the audio family's standard): the
    // oracle rebuilds the identical bytes and re-reads every tag
    // through the block's own length chain — u32le comment count,
    // then each length-prefixed comment walked by its declared
    // size — so a matched encode/decode length error on the engine
    // side can no longer round-trip invisibly
    "mm_flac_tags" -> {
      import graft.multimodal.AudioHex._
      def hexStrD(e: String) = s"hex(encode($e))"
      def u32(posE: String) =
        s"(${unhexLEat("hs", posE, "strpos")} + " +
          s"${unhexLEat("hs", s"($posE) + 4", "strpos")} * 65536)"
      s"""WITH t AS (SELECT doc_id,
         |    list_extract([44100, 48000, 96000],
         |      CAST(doc_id % 3 AS INT) + 1) AS rate0,
         |    CAST(doc_id % 2 AS INT) + 1 AS ch0,
         |    16 AS bits0,
         |    (doc_id * 313) % 100000000 AS total0,
         |    'Title ' || CAST(doc_id AS VARCHAR) AS t1,
         |    'Artist ' || CAST(doc_id % 9 AS VARCHAR) AS t2,
         |    'Album ' || CAST(doc_id % 13 AS VARCHAR) AS t3,
         |    doc_id % 3 != 0 AS hasalb
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(${flacTagsHex("rate0", "ch0", "bits0",
               "total0", "t1", "t2", "t3", "hasalb", "//", hexStrD)}))
         |      AS hs
         |  FROM t),
         |l1 AS (SELECT doc_id, hs, ${u32("111")} AS nc,
         |    ${u32("119")} AS len1 FROM b),
         |l2 AS (SELECT doc_id, hs, nc, len1,
         |    ${u32("127 + 2 * len1")} AS len2 FROM l1),
         |l3 AS (SELECT doc_id, hs, nc, len1, len2,
         |    CASE WHEN nc = 3
         |      THEN ${u32("135 + 2 * len1 + 2 * len2")}
         |      ELSE 0 END AS len3
         |  FROM l2)
         |SELECT doc_id,
         |  decode(from_hex(substring(hs, 139,
         |    CAST(2 * (len1 - 6) AS INT)))) AS title,
         |  decode(from_hex(substring(hs, CAST(149 + 2 * len1 AS INT),
         |    CAST(2 * (len2 - 7) AS INT)))) AS artist,
         |  CASE WHEN nc = 3 THEN decode(from_hex(substring(hs,
         |    CAST(155 + 2 * (len1 + len2) AS INT),
         |    CAST(2 * (len3 - 6) AS INT)))) END AS album
         |FROM l3""".stripMargin
    },

    // page-walk replay: channels/rate from the BOS page's ID
    // packet, the duration granule from the SECOND page — all
    // positional little-endian reads
    "mm_ogg_meta" -> {
      import graft.multimodal.AudioHex._
      s"""WITH t AS (SELECT doc_id,
         |    list_extract([8000, 16000, 22050, 44100, 48000],
         |      CAST(doc_id % 5 AS INT) + 1) AS rate0,
         |    CAST((doc_id * 5) % 6 AS INT) + 1 AS ch0,
         |    (doc_id * 991) % 1000000000 AS total0,
         |    CAST(doc_id % 40 AS INT) + 1 AS pad0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(${oggHex("rate0", "ch0", "total0",
              "pad0", "//")})) AS hs
         |  FROM t),
         |f AS (SELECT doc_id,
         |    ${unhexLE("hs", OggChannelsPos, 1, "strpos")} AS channels,
         |    ${unhexLE("hs", OggRatePos, 4, "strpos")} AS sample_rate,
         |    ${unhexLE("hs", OggGranulePos, 8, "strpos")} AS n_samples
         |  FROM b)
         |SELECT CAST(sample_rate AS BIGINT) AS sample_rate,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST(SUM(n_samples) AS BIGINT) AS sum_samples,
         |  CAST(SUM(n_samples * 1000 // sample_rate) AS BIGINT)
         |    AS sum_ms
         |FROM f GROUP BY 1, 2""".stripMargin
    },

    // POSITIONAL byte replay through the comment packet's own
    // length chain (the mm_flac_tags discipline): vendor length,
    // comment count, then each little-endian-prefixed comment read
    // at the offset the PREVIOUS lengths imply — a packet-assembly
    // or length error on either side desynchronizes the chain
    "mm_ogg_tags" -> {
      import graft.multimodal.AudioHex._
      def hexStrD(e: String) = s"hex(encode($e))"
      def u32(posE: String) =
        s"(${unhexLEat("hs", posE, "strpos")} + " +
          s"${unhexLEat("hs", s"($posE) + 4", "strpos")} * 65536)"
      s"""WITH t AS (SELECT doc_id,
         |    list_extract([8000, 22050, 44100, 48000],
         |      CAST(doc_id % 4 AS INT) + 1) AS rate0,
         |    CAST(doc_id % 2 AS INT) + 1 AS ch0,
         |    (doc_id * 769) % 1000000000 AS total0,
         |    CAST(doc_id % 40 AS INT) + 1 AS pad0,
         |    'Song ' || CAST(doc_id AS VARCHAR) AS t1,
         |    'Band ' || CAST(doc_id % 9 AS VARCHAR) AS t2,
         |    'Disc ' || CAST(doc_id % 13 AS VARCHAR) AS t3,
         |    doc_id % 3 != 0 AS hasalb
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(${oggTagsHex("rate0", "ch0", "total0",
               "pad0", "t1", "t2", "t3", "hasalb", "//", hexStrD)}))
         |      AS hs
         |  FROM t),
         |l1 AS (SELECT doc_id, hs, ${u32("205")} AS nc,
         |    ${u32("213")} AS len1 FROM b),
         |l2 AS (SELECT doc_id, hs, nc, len1,
         |    ${u32("221 + 2 * len1")} AS len2 FROM l1),
         |l3 AS (SELECT doc_id, hs, nc, len1, len2,
         |    CASE WHEN nc = 3
         |      THEN ${u32("229 + 2 * (len1 + len2)")}
         |      ELSE 0 END AS len3
         |  FROM l2)
         |SELECT doc_id,
         |  decode(from_hex(substring(hs, 233,
         |    CAST(2 * (len1 - 6) AS INT)))) AS title,
         |  decode(from_hex(substring(hs, CAST(243 + 2 * len1 AS INT),
         |    CAST(2 * (len2 - 7) AS INT)))) AS artist,
         |  CASE WHEN nc = 3 THEN decode(from_hex(substring(hs,
         |    CAST(249 + 2 * (len1 + len2) AS INT),
         |    CAST(2 * (len3 - 6) AS INT)))) END AS album
         |FROM l3""".stripMargin
    },

    // companded replay: positional one-byte code walk → G.711
    // expansion re-derived in pure int SQL (complement → segment
    // shift → bias strip) → same exact-integer metering — fully
    // independent of the engine's ulawExpand table
    "mm_audio_ulaw" -> {
      import graft.multimodal.AudioHex._
      s"""WITH t AS (SELECT doc_id,
         |    list_extract([8000, 16000, 22050, 44100, 48000],
         |      CAST(doc_id % 5 AS INT) + 1) AS rate0,
         |    CAST(doc_id % 2 AS INT) + 1 AS ch0,
         |    (doc_id % 24 + 4) * (CAST(doc_id % 2 AS INT) + 1) AS nv0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(concat(
         |      ${wavHexUlaw("rate0", "ch0", "nv0", "//")},
         |      ${ulawPayloadHexDuck("nv0", UlawCodeExpr)}))) AS hs
         |  FROM t),
         |f AS (SELECT doc_id, hs,
         |    ${unhexLE("hs", ChannelsPos, 2, "strpos")} AS channels,
         |    ${unhexLE("hs", SampleRatePos, 4, "strpos")} AS sample_rate,
         |    ${unhexLE("hs", DataSizePos, 4, "strpos")} AS data_bytes
         |  FROM b),
         |cd AS (SELECT doc_id, channels, sample_rate,
         |    ${unhexU8at("hs", s"$PayloadPos + 2 * i", "strpos")} AS c
         |  FROM (SELECT doc_id, channels, sample_rate, hs,
         |        unnest(range(0, data_bytes)) AS i FROM f)),
         |ex AS (SELECT doc_id, channels, sample_rate,
         |    ((u % 16) * 8 + 132) * (1 << CAST((u // 16) % 8 AS INT))
         |      AS t, u
         |  FROM (SELECT *, 255 - c AS u FROM cd)),
         |sv AS (SELECT doc_id, channels, sample_rate,
         |    CASE WHEN u >= 128 THEN 132 - t ELSE t - 132 END AS s
         |  FROM ex),
         |g AS (SELECT doc_id, channels, sample_rate,
         |    COUNT(*) AS nv, SUM(s * s) AS ssq, MAX(ABS(s)) AS pk,
         |    SUM(CASE WHEN ABS(s) = 32124 THEN 1 ELSE 0 END) AS fs
         |  FROM sv GROUP BY 1, 2, 3)
         |SELECT CAST(sample_rate AS BIGINT) AS sample_rate,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST(SUM(nv) AS BIGINT) AS sum_values,
         |  CAST(SUM(ssq) AS BIGINT) AS sum_sq,
         |  CAST(MAX(pk) AS BIGINT) AS max_peak,
         |  CAST(SUM(fs) AS BIGINT) AS sum_fullscale
         |FROM g GROUP BY 1, 2""".stripMargin
    },

    // A-law replay: same positional walk, the A-law expansion
    // re-derived in pure int SQL (XOR-0x55, linear segment 0,
    // sign-bit-set-positive) — independent of the engine's table
    "mm_audio_alaw" -> {
      import graft.multimodal.AudioHex._
      s"""WITH t AS (SELECT doc_id,
         |    list_extract([8000, 16000, 22050, 44100, 48000],
         |      CAST(doc_id % 5 AS INT) + 1) AS rate0,
         |    CAST(doc_id % 2 AS INT) + 1 AS ch0,
         |    (doc_id % 24 + 4) * (CAST(doc_id % 2 AS INT) + 1) AS nv0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(concat(
         |      ${wavHexAlaw("rate0", "ch0", "nv0", "//")},
         |      ${ulawPayloadHexDuck("nv0", AlawCodeExpr)}))) AS hs
         |  FROM t),
         |f AS (SELECT doc_id, hs,
         |    ${unhexLE("hs", ChannelsPos, 2, "strpos")} AS channels,
         |    ${unhexLE("hs", SampleRatePos, 4, "strpos")} AS sample_rate,
         |    ${unhexLE("hs", DataSizePos, 4, "strpos")} AS data_bytes
         |  FROM b),
         |cd AS (SELECT doc_id, channels, sample_rate,
         |    ${unhexU8at("hs", s"$PayloadPos + 2 * i", "strpos")} AS c
         |  FROM (SELECT doc_id, channels, sample_rate, hs,
         |        unnest(range(0, data_bytes)) AS i FROM f)),
         |ex AS (SELECT doc_id, channels, sample_rate, u,
         |    CASE WHEN (u // 16) % 8 = 0 THEN (u % 16) * 16 + 8
         |         ELSE ((u % 16) * 16 + 264)
         |           * (1 << CAST((u // 16) % 8 - 1 AS INT)) END AS t
         |  FROM (SELECT *, xor(c, 85) AS u FROM cd)),
         |sv AS (SELECT doc_id, channels, sample_rate,
         |    CASE WHEN u >= 128 THEN t ELSE -t END AS s
         |  FROM ex),
         |g AS (SELECT doc_id, channels, sample_rate,
         |    COUNT(*) AS nv, SUM(s * s) AS ssq, MAX(ABS(s)) AS pk,
         |    SUM(CASE WHEN ABS(s) = 32256 THEN 1 ELSE 0 END) AS fs
         |  FROM sv GROUP BY 1, 2, 3)
         |SELECT CAST(sample_rate AS BIGINT) AS sample_rate,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST(SUM(nv) AS BIGINT) AS sum_values,
         |  CAST(SUM(ssq) AS BIGINT) AS sum_sq,
         |  CAST(MAX(pk) AS BIGINT) AS max_peak,
         |  CAST(SUM(fs) AS BIGINT) AS sum_fullscale
         |FROM g GROUP BY 1, 2""".stripMargin
    },

    // fingerprint replay: positional s16le sample walk → 4-value
    // frames → integer energies → delta-sign bits → LE bit-pack,
    // independent of the engine's fingerprinter
    "mm_audio_fp" -> audioFpOracleSelect,

    // ground truth for the banded search: all-pairs within each
    // frame-count class over the SAME reconstructed fingerprints —
    // structurally independent of the engine's banding (the
    // pigeonhole argument: hamming ≤ 3 over 4 bands forces one
    // identical band, so banded == all-pairs exactly)
    "mm_audio_neardup" ->
      s"""WITH f AS ($audioFpOracleSelect)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM f a JOIN f b
         |  ON a.n_frames = b.n_frames AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,

    // incremental truth: arriving × base all-pairs within class
    "mm_audio_neardup_incr" ->
      s"""WITH f AS ($audioFpOracleSelect)
         |SELECT a.doc_id AS new_id, b.doc_id AS dup_of,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM f a JOIN f b
         |  ON a.n_frames = b.n_frames
         |  AND a.doc_id % 10 = 7 AND NOT (b.doc_id % 10 = 7)
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,


    // positional pixel-walk replay over the same BLOB: x/y/channel
    // offsets recomputed from the header arithmetic (stride incl.
    // row padding), bytes read from the hex — independent of the
    // engine's decoder
    "mm_image_levels" -> {
      import graft.multimodal.ImageHex._
      val pixel = "(doc_id * 7 + x * 13 + y * 31 + c * 101) % 256"
      s"""WITH t AS (SELECT doc_id,
         |    CAST(doc_id % 8 AS INT) + 1 AS w0,
         |    CAST(doc_id % 5 AS INT) + 1 AS h0
         |  FROM documents),
         |b AS (SELECT doc_id, w0, h0,
         |    hex(from_hex(${bmpHex("w0", "h0", pixel, "//", seqJoinDuck)}))
         |      AS hs
         |  FROM t),
         |px AS (SELECT doc_id, w0, h0, hs,
         |    CAST(i % w0 AS BIGINT) AS x, CAST(i // w0 AS BIGINT) AS y
         |  FROM (SELECT doc_id, w0, h0, hs,
         |        unnest(range(0, CAST(w0 * h0 AS BIGINT))) AS i FROM b)),
         |v AS (SELECT doc_id, w0, h0,
         |    ${byteAt("hs",
              s"$BmpPixelPos + 2 * (y * ((((3 * w0) + 3) // 4) * 4) " +
                "+ x * 3 + 0)", "strpos")} AS pb,
         |    ${byteAt("hs",
              s"$BmpPixelPos + 2 * (y * ((((3 * w0) + 3) // 4) * 4) " +
                "+ x * 3 + 1)", "strpos")} AS pg,
         |    ${byteAt("hs",
              s"$BmpPixelPos + 2 * (y * ((((3 * w0) + 3) // 4) * 4) " +
                "+ x * 3 + 2)", "strpos")} AS pr
         |  FROM px),
         |g AS (SELECT doc_id, w0, h0, COUNT(*) AS npx,
         |    SUM(pr) AS sr, SUM(pg) AS sg, SUM(pb) AS sb
         |  FROM v GROUP BY 1, 2, 3)
         |SELECT CAST(w0 AS BIGINT) AS width,
         |  CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(npx) AS BIGINT) AS sum_px,
         |  CAST(SUM(sr) AS BIGINT) AS sum_r,
         |  CAST(SUM(sg) AS BIGINT) AS sum_g,
         |  CAST(SUM(sb) AS BIGINT) AS sum_b,
         |  CAST(MAX(h0) AS BIGINT) AS max_h
         |FROM g GROUP BY 1""".stripMargin
    },

    "mm_png_levels" -> {
      import graft.multimodal.ImageHex._
      val pixel = "(doc_id * 11 + x * 17 + y * 29 + c * 97) % 256"
      // raw scanline bytes sit verbatim inside the stored DEFLATE
      // block: pixel (x, y, c) at hex position
      // PngRawPos + 2·(y·(1+3w) + 1 + 3x + c) — the oracle replays
      // the walk positionally and never inflates
      def chan(c: Int): String = byteAt("hs",
        s"$PngRawPos + 2 * (y * (1 + 3 * w0) + 1 + 3 * x + $c)",
        "strpos")
      s"""WITH t AS (SELECT doc_id,
         |    CAST(doc_id % 6 AS INT) + 1 AS w0,
         |    CAST(doc_id % 4 AS INT) + 1 AS h0
         |  FROM documents),
         |b AS (SELECT doc_id, w0, h0,
         |    hex(from_hex(${pngFileHex("w0", "h0", pixel, "//",
                seqJoinDuck)})) AS hs
         |  FROM t),
         |px AS (SELECT doc_id, w0, h0, hs,
         |    CAST(i % w0 AS BIGINT) AS x, CAST(i // w0 AS BIGINT) AS y
         |  FROM (SELECT doc_id, w0, h0, hs,
         |        unnest(range(0, CAST(w0 * h0 AS BIGINT))) AS i FROM b)),
         |v AS (SELECT doc_id, w0, h0,
         |    ${chan(0)} AS pr, ${chan(1)} AS pg, ${chan(2)} AS pb
         |  FROM px),
         |g AS (SELECT doc_id, w0, h0, COUNT(*) AS npx,
         |    SUM(pr) AS sr, SUM(pg) AS sg, SUM(pb) AS sb
         |  FROM v GROUP BY 1, 2, 3)
         |SELECT CAST(w0 AS BIGINT) AS width,
         |  CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(npx) AS BIGINT) AS sum_px,
         |  CAST(SUM(sr) AS BIGINT) AS sum_r,
         |  CAST(SUM(sg) AS BIGINT) AS sum_g,
         |  CAST(SUM(sb) AS BIGINT) AS sum_b,
         |  CAST(MAX(h0) AS BIGINT) AS max_h
         |FROM g GROUP BY 1""".stripMargin
    },

    "mm_png16_levels" -> {
      import graft.multimodal.ImageHex._
      val sample = "(doc_id * 131 + x * 257 + y * 769 + c * 4099) % 65536"
      // 16-bit sample (x, y, c) = big-endian byte pair at hex
      // positions PngRawPos + 2·(y·(1+6w) + 1 + 6x + 2c) and +2 —
      // the oracle reads hi·256+lo positionally, never inflates
      def chan16(c: Int): String = {
        val bytePos = s"$PngRawPos + 2 * (y * (1 + 6 * w0) + 1 + " +
          s"6 * x + 2 * $c)"
        s"(${byteAt("hs", bytePos, "strpos")} * 256 + " +
          s"${byteAt("hs", s"($bytePos) + 2", "strpos")})"
      }
      s"""WITH t AS (SELECT doc_id,
         |    CAST(doc_id % 4 AS INT) + 1 AS w0,
         |    CAST(doc_id % 3 AS INT) + 1 AS h0
         |  FROM documents),
         |b AS (SELECT doc_id, w0, h0,
         |    hex(from_hex(${pngFile16Hex("w0", "h0", sample, "//",
                seqJoinDuck)})) AS hs
         |  FROM t),
         |px AS (SELECT doc_id, w0, h0, hs,
         |    CAST(i % w0 AS BIGINT) AS x, CAST(i // w0 AS BIGINT) AS y
         |  FROM (SELECT doc_id, w0, h0, hs,
         |        unnest(range(0, CAST(w0 * h0 AS BIGINT))) AS i FROM b)),
         |v AS (SELECT doc_id, w0, h0,
         |    ${chan16(0)} AS pr, ${chan16(1)} AS pg, ${chan16(2)} AS pb
         |  FROM px),
         |g AS (SELECT doc_id, w0, h0, COUNT(*) AS npx,
         |    SUM(pr) AS sr, SUM(pg) AS sg, SUM(pb) AS sb
         |  FROM v GROUP BY 1, 2, 3)
         |SELECT CAST(w0 AS BIGINT) AS width,
         |  CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(npx) AS BIGINT) AS sum_px,
         |  CAST(SUM(sr) AS BIGINT) AS sum_r,
         |  CAST(SUM(sg) AS BIGINT) AS sum_g,
         |  CAST(SUM(sb) AS BIGINT) AS sum_b,
         |  CAST(MAX(h0) AS BIGINT) AS max_h
         |FROM g GROUP BY 1""".stripMargin
    },

    "mm_png_adam7_levels" -> {
      import graft.multimodal.ImageHex._
      // data byte j of the fixed 8x8 Adam7 stream sits at raw offset
      // j + (filter bytes before it) — a static CASE over the 15
      // scanline boundaries; gray sums into all three channels
      val gray = byteAt("hs",
        s"$PngRawPos + 2 * ${adam7DataOffset("j")}", "strpos")
      s"""WITH b AS (SELECT doc_id,
         |    hex(from_hex(${pngAdam7GrayHex(
                j => s"(doc_id * 7 + ($j) * 37) % 256", "//",
                seqJoinDuck)})) AS hs
         |  FROM documents),
         |px AS (SELECT doc_id, hs, unnest(range(0, 64)) AS j FROM b),
         |v AS (SELECT doc_id, $gray AS pv FROM px),
         |g AS (SELECT doc_id, COUNT(*) AS npx, SUM(pv) AS s
         |  FROM v GROUP BY 1)
         |SELECT CAST(8 AS BIGINT) AS width,
         |  CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(npx) AS BIGINT) AS sum_px,
         |  CAST(SUM(s) AS BIGINT) AS sum_r,
         |  CAST(SUM(s) AS BIGINT) AS sum_g,
         |  CAST(SUM(s) AS BIGINT) AS sum_b,
         |  CAST(8 AS BIGINT) AS max_h
         |FROM g""".stripMargin
    },

    // Byte-positional replay of the baseline-JPEG fixture: read each
    // block's DC bits byte out of the built hex, decode the
    // category-8 diff (bits >= 128 ? bits : bits-255), running-sum
    // per doc, flat pixel = clamp(cum+128) — the exact DC-only
    // reconstruction; never touches Huffman or the IDCT.
    "mm_jpeg_luma" -> {
      import graft.multimodal.ImageHex._
      val bits = byteAt("hs", jpegBitsPos("j"), "strpos")
      s"""WITH t AS (SELECT doc_id,
         |    8 * (CAST(doc_id % 3 AS INT) + 1) AS w0,
         |    8 * (CAST(doc_id % 2 AS INT) + 1) AS h0
         |  FROM documents),
         |b AS (SELECT doc_id, w0, h0,
         |    hex(from_hex(${jpegGrayFileHex("w0", "h0", jpegBits, "//",
                seqJoinDuck)})) AS hs
         |  FROM t),
         |blk AS (SELECT doc_id, w0, h0, hs,
         |    unnest(range(0, CAST((w0 // 8) * (h0 // 8) AS BIGINT)))
         |      AS j
         |  FROM b),
         |d AS (SELECT doc_id, w0, h0, j, $bits AS bits FROM blk),
         |v AS (SELECT doc_id, w0, h0, j,
         |    CASE WHEN bits >= 128 THEN bits ELSE bits - 255 END
         |      AS diff
         |  FROM d),
         |c AS (SELECT doc_id, w0, h0,
         |    SUM(diff) OVER (PARTITION BY doc_id ORDER BY j) AS cum
         |  FROM v),
         |p AS (SELECT doc_id, w0, h0,
         |    LEAST(255, GREATEST(0, cum + 128)) AS pv FROM c),
         |g AS (SELECT doc_id, w0, h0, SUM(64 * pv) AS sy
         |  FROM p GROUP BY 1, 2, 3)
         |SELECT CAST(w0 AS BIGINT) AS width,
         |  CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(w0 * h0) AS BIGINT) AS sum_px,
         |  CAST(SUM(sy) AS BIGINT) AS sum_y,
         |  CAST(MAX(h0) AS BIGINT) AS max_h
         |FROM g GROUP BY 1""".stripMargin
    },

    // dHash replay: rebuild the gray PNG hex, read each sample
    // positionally, re-derive the 9×8 cell partition (i = 9x//w,
    // j = 8y//h), the cross-multiplied mean comparisons, and the
    // split bit-pack — the full fingerprint arithmetic, independent
    // of the engine's decoder.
    "mm_dhash" ->
      (dhashOracleCte + "\nSELECT doc_id, width, height, dh_hi, " +
        "dh_lo FROM fp"),

    // feature-vector replay: the same positional pixel chain grouped
    // into the 4×4 grid with exact sums, counts, and floor means —
    // independent re-derivation of the engine's LumaCells output
    "mm_image_features" ->
      (lumaPxCte + """,
         |c4 AS (SELECT doc_id,
         |    (4 * x) // w0 AS cell_i, (4 * y) // h0 AS cell_j,
         |    CAST(SUM(pv) AS BIGINT) AS lsum,
         |    CAST(COUNT(*) AS BIGINT) AS lcnt
         |  FROM px GROUP BY 1, 2, 3)
         |SELECT doc_id, CAST(cell_i AS BIGINT) AS cell_i,
         |  CAST(cell_j AS BIGINT) AS cell_j, lsum, lcnt,
         |  CAST(lsum // lcnt AS BIGINT) AS mean_l
         |FROM c4""".stripMargin),

    // kNN-over-features truth: per-probe exact cosine²·10⁵ over the
    // same floor-mean vectors, ranked (score desc, doc_id asc) —
    // the deterministic total order TopKByLong implements
    "mm_feature_knn" ->
      (lumaPxCte + """,
         |c4 AS (SELECT doc_id,
         |    (4 * x) // w0 AS i, (4 * y) // h0 AS j,
         |    SUM(pv) AS s, COUNT(*) AS c
         |  FROM px GROUP BY 1, 2, 3),
         |fvec AS (SELECT doc_id, j * 4 + i AS k,
         |    CAST(s // c AS BIGINT) AS m FROM c4),
         |n2 AS (SELECT doc_id, SUM(m * m) AS n2 FROM fvec GROUP BY 1),
         |dots AS (SELECT a.doc_id AS doc_id, b.doc_id AS q_id,
         |    SUM(a.m * b.m) AS dot
         |  FROM fvec a JOIN fvec b ON a.k = b.k
         |  WHERE b.doc_id % 115 = 0 AND a.doc_id != b.doc_id
         |  GROUP BY 1, 2),
         |scored AS (SELECT d.q_id, d.doc_id,
         |    CAST((100000 * d.dot * d.dot)
         |      // (na.n2 * nb.n2) AS BIGINT) AS score
         |  FROM dots d
         |  JOIN n2 na ON na.doc_id = d.doc_id
         |  JOIN n2 nb ON nb.doc_id = d.q_id),
         |ranked AS (SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM scored)
         |SELECT q_id, doc_id, CAST(rank AS BIGINT) AS rank, score
         |FROM ranked WHERE rank <= 5""".stripMargin),

    // Ground truth for the banded search: ALL pairs within Hamming
    // distance 3 — equal to the engine's banded candidate set by the
    // pigeonhole argument (4 bands, ≤3 flipped bits leave one band
    // identical), stated as a tiny all-pairs scan at oracle scale.
    "mm_image_neardup" ->
      (dhashOracleCte + """,
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(bit_count(xor(a.dh_hi, b.dh_hi))
         |      + bit_count(xor(a.dh_lo, b.dh_lo)) AS BIGINT)
         |      AS hamming
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
         |SELECT a_id, b_id, hamming FROM pairs
         |WHERE hamming <= 3""".stripMargin),

    // the incremental probe's truth: arriving x base all-pairs at
    // oracle scale (the banded probe is pigeonhole-complete at <= 3)
    "mm_neardup_incremental" ->
      (dhashOracleCte + """,
         |pairs AS (SELECT a.doc_id AS new_id, b.doc_id AS dup_of,
         |    CAST(bit_count(xor(a.dh_hi, b.dh_hi))
         |      + bit_count(xor(a.dh_lo, b.dh_lo)) AS BIGINT)
         |      AS hamming
         |  FROM fp a JOIN fp b
         |    ON ((a.doc_id // 23) // 12) % 2 != 0
         |   AND ((b.doc_id // 23) // 12) % 2 = 0)
         |SELECT new_id, dup_of, hamming FROM pairs
         |WHERE hamming <= 3""".stripMargin),

    "mm_png_gray_levels" -> {
      import graft.multimodal.ImageHex._
      val pixel = "(doc_id * 7 + x * 31 + y * 13) % 256"
      // gray sample (x, y) of the stored block at hex position
      // PngRawPos + 2·(y·(1+w) + 1 + x); the gray→(r,g,b) convention
      // is mirrored here by summing the SAME byte into all three
      val gray = byteAt("hs",
        s"$PngRawPos + 2 * (y * (1 + w0) + 1 + x)", "strpos")
      s"""WITH t AS (SELECT doc_id,
         |    CAST(doc_id % 5 AS INT) + 1 AS w0,
         |    CAST(doc_id % 3 AS INT) + 1 AS h0
         |  FROM documents),
         |b AS (SELECT doc_id, w0, h0,
         |    hex(from_hex(${pngGrayFileHex("w0", "h0", pixel, "//",
                seqJoinDuck)})) AS hs
         |  FROM t),
         |px AS (SELECT doc_id, w0, h0, hs,
         |    CAST(i % w0 AS BIGINT) AS x, CAST(i // w0 AS BIGINT) AS y
         |  FROM (SELECT doc_id, w0, h0, hs,
         |        unnest(range(0, CAST(w0 * h0 AS BIGINT))) AS i FROM b)),
         |v AS (SELECT doc_id, w0, h0, $gray AS pg FROM px),
         |g AS (SELECT doc_id, w0, h0, COUNT(*) AS npx,
         |    SUM(pg) AS sg
         |  FROM v GROUP BY 1, 2, 3)
         |SELECT CAST(w0 AS BIGINT) AS width,
         |  CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(npx) AS BIGINT) AS sum_px,
         |  CAST(SUM(sg) AS BIGINT) AS sum_r,
         |  CAST(SUM(sg) AS BIGINT) AS sum_g,
         |  CAST(SUM(sg) AS BIGINT) AS sum_b,
         |  CAST(MAX(h0) AS BIGINT) AS max_h
         |FROM g GROUP BY 1""".stripMargin
    },

    "mm_video_meta" -> {
      import graft.multimodal.VideoHex._
      import graft.multimodal.ImageHex.unhexN
      s"""WITH t AS (SELECT doc_id,
         |    (doc_id % 1280) + 16 AS w0,
         |    ((doc_id * 13) % 720) + 16 AS h0,
         |    list_extract([600, 1000, 24000, 90000],
         |      CAST(doc_id % 4 AS INT) + 1) AS ts0,
         |    (doc_id * 977) % 8640000 + 1 AS dur0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(${mp4Hex("w0", "h0", "ts0", "dur0", "//")}))
         |      AS hs
         |  FROM t),
         |f AS (SELECT doc_id,
         |    ${unhexN("hs", TimescalePos, 8, "strpos")} AS timescale,
         |    ${unhexN("hs", DurationPos, 8, "strpos")} AS duration,
         |    ${unhexN("hs", WidthPos, 8, "strpos")} // 65536 AS w,
         |    ${unhexN("hs", HeightPos, 8, "strpos")} // 65536 AS h
         |  FROM b)
         |SELECT CAST(timescale AS BIGINT) AS timescale,
         |  CAST(COUNT(*) AS BIGINT) AS n_videos,
         |  CAST(SUM(duration) AS BIGINT) AS sum_dur,
         |  CAST(SUM(duration * 1000 // timescale) AS BIGINT) AS sum_ms,
         |  CAST(SUM(w) AS BIGINT) AS sum_w,
         |  CAST(MAX(h) AS BIGINT) AS max_h
         |FROM f GROUP BY 1""".stripMargin
    },

    // little-endian avih replay: all four fields re-read
    // positionally as u32le, duration re-derived from the native
    // microsecond clock
    "mm_avi_meta" -> {
      import graft.multimodal.VideoHex._
      import graft.multimodal.AudioHex.unhexLE
      s"""WITH t AS (SELECT doc_id,
         |    (doc_id % 1920) + 16 AS w0,
         |    ((doc_id * 13) % 1080) + 16 AS h0,
         |    list_extract([40000, 33367, 20000],
         |      CAST(doc_id % 3 AS INT) + 1) AS usf0,
         |    (doc_id * 31) % 100000 + 1 AS nf0
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    hex(from_hex(${aviHex("w0", "h0", "usf0", "nf0", "//")}))
         |      AS hs
         |  FROM t),
         |f AS (SELECT doc_id,
         |    ${unhexLE("hs", AviWidthPos, 4, "strpos")} AS width,
         |    ${unhexLE("hs", AviHeightPos, 4, "strpos")} AS height,
         |    ${unhexLE("hs", AviUsfPos, 4, "strpos")} AS usf,
         |    ${unhexLE("hs", AviFramesPos, 4, "strpos")} AS nf
         |  FROM b)
         |SELECT doc_id,
         |  CAST(width AS BIGINT) AS width,
         |  CAST(height AS BIGINT) AS height,
         |  CAST((usf * nf) // 1000 AS BIGINT) AS dur_ms
         |FROM f""".stripMargin
    },

    // component replay: the expected fields re-derived from the
    // same doc_id arithmetic — the engine side must RECOVER them
    // through the version-correct frame walk
    "mm_id3_tags" ->
      """SELECT doc_id,
        |  'Title ' || CAST(doc_id AS VARCHAR) AS title,
        |  'Artist ' || CAST(doc_id % 7 AS VARCHAR) AS artist,
        |  CASE WHEN doc_id % 3 != 0
        |    THEN 'Album ' || CAST(doc_id % 11 AS VARCHAR) END
        |    AS album,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS BIGINT)
        |    AS version
        |FROM documents""".stripMargin,

    // component replay for the legacy layout: the engine must
    // recover these through the 6-byte-header 3-char-id walk
    "mm_id3_v22" ->
      """SELECT doc_id,
        |  'Song ' || CAST(doc_id % 17 AS VARCHAR) AS title,
        |  'Act ' || CAST(doc_id % 5 AS VARCHAR) AS artist,
        |  CASE WHEN doc_id % 4 != 1
        |    THEN 'LP ' || CAST(doc_id % 23 AS VARCHAR) END AS album,
        |  CAST(2 AS BIGINT) AS version
        |FROM documents""".stripMargin,

    // positional frame-walk replay: frame offsets from cumulative
    // length arithmetic, header bytes EXTRACTED from the blob at
    // those offsets, all metrics re-derived from extracted values
    "mm_mp3_meta" -> {
      import graft.multimodal.{ImageHex, Mp3Hex}
      import graft.multimodal.ImageHex.byteAt
      val rateE = Mp3Hex.rateCase(Mp3Hex.SrIdxE)
      s"""WITH b AS (SELECT doc_id,
         |    hex(from_hex(${Mp3Hex.mp3Hex(Mp3Hex.HasId3E,
              Mp3Hex.Id3PadE, Mp3Hex.NframesE, Mp3Hex.SrIdxE, rateE,
              Mp3Hex.ModeE, "//", ImageHex.seqJoinDuck)})) AS hs,
         |    $rateE AS rate,
         |    CASE WHEN ${Mp3Hex.HasId3E}
         |      THEN 10 + ${Mp3Hex.Id3PadE} ELSE 0 END AS base,
         |    ${Mp3Hex.NframesE} AS nf
         |  FROM documents),
         |fr AS (SELECT doc_id, hs, rate, base,
         |    unnest(range(0, CAST(nf AS BIGINT))) AS i
         |  FROM b),
         |pos AS (SELECT doc_id, hs, rate, base, i,
         |    COALESCE(SUM(${Mp3Hex.flenE("i", "rate", "//")})
         |      OVER (PARTITION BY doc_id ORDER BY i
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS cum
         |  FROM fr),
         |ext AS (SELECT doc_id,
         |    ${byteAt("hs", "(base + cum + 2) * 2 + 1", "strpos")} AS b2,
         |    ${byteAt("hs", "(base + cum + 3) * 2 + 1", "strpos")} AS b3
         |  FROM pos),
         |dec AS (SELECT doc_id,
         |    ${Mp3Hex.kbpsCase("b2 // 16")} AS kbps,
         |    ${Mp3Hex.rateCase("(b2 // 4) % 4")} AS rate_x,
         |    (b2 // 2) % 2 AS pad_x,
         |    CASE WHEN b3 // 64 = 3 THEN 1 ELSE 2 END AS ch_x
         |  FROM ext),
         |fl AS (SELECT doc_id, kbps, rate_x, ch_x,
         |    (144000 * kbps) // rate_x + pad_x AS flen_x
         |  FROM dec),
         |g AS (SELECT doc_id, MIN(rate_x) AS sample_rate,
         |    MIN(ch_x) AS channels, COUNT(*) AS nf,
         |    SUM(kbps) AS skbps, SUM(flen_x) AS sfb
         |  FROM fl GROUP BY doc_id)
         |SELECT CAST(sample_rate AS BIGINT) AS sample_rate,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST(SUM(nf) AS BIGINT) AS sum_frames,
         |  CAST(SUM(skbps) AS BIGINT) AS sum_kbps,
         |  CAST(SUM(sfb) AS BIGINT) AS sum_frame_bytes,
         |  CAST(SUM(nf * 1152000 // sample_rate) AS BIGINT) AS sum_ms
         |FROM g GROUP BY 1, 2""".stripMargin
    },

    // LSF twin of the mm_mp3_meta walk replay: cumulative
    // frame-length arithmetic with the 72-coefficient and the
    // MPEG-2/2.5 bitrate + rate tables, headers EXTRACTED at the
    // derived offsets, duration at 576 samples per frame
    "mm_mp3_mpeg2" -> {
      import graft.multimodal.{ImageHex, Mp3Hex}
      import graft.multimodal.ImageHex.byteAt
      val rateE = Mp3Hex.rate2Case(Mp3Hex.SrIdxE, Mp3Hex.V25E)
      s"""WITH b AS (SELECT doc_id,
         |    hex(from_hex(${Mp3Hex.mp3Hex2(Mp3Hex.HasId3E,
              Mp3Hex.Id3PadE, Mp3Hex.NframesE, Mp3Hex.SrIdxE, rateE,
              Mp3Hex.Mode2E, Mp3Hex.V25E, "//",
              ImageHex.seqJoinDuck)})) AS hs,
         |    $rateE AS rate,
         |    (${Mp3Hex.V25E}) AS v25,
         |    CASE WHEN ${Mp3Hex.HasId3E}
         |      THEN 10 + ${Mp3Hex.Id3PadE} ELSE 0 END AS base,
         |    ${Mp3Hex.NframesE} AS nf
         |  FROM documents),
         |fr AS (SELECT doc_id, hs, rate, v25, base,
         |    unnest(range(0, CAST(nf AS BIGINT))) AS i
         |  FROM b),
         |pos AS (SELECT doc_id, hs, rate, v25, base, i,
         |    COALESCE(SUM(${Mp3Hex.flen2E("i", "rate", "//")})
         |      OVER (PARTITION BY doc_id ORDER BY i
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS cum
         |  FROM fr),
         |ext AS (SELECT doc_id, v25,
         |    ${byteAt("hs", "(base + cum + 1) * 2 + 1", "strpos")} AS b1,
         |    ${byteAt("hs", "(base + cum + 2) * 2 + 1", "strpos")} AS b2,
         |    ${byteAt("hs", "(base + cum + 3) * 2 + 1", "strpos")} AS b3
         |  FROM pos),
         |dec AS (SELECT doc_id,
         |    ${Mp3Hex.kbps2Case("b2 // 16")} AS kbps,
         |    ${Mp3Hex.rate2Case("(b2 // 4) % 4",
               "(b1 // 8) % 4 = 0")} AS rate_x,
         |    (b2 // 2) % 2 AS pad_x,
         |    CASE WHEN b3 // 64 = 3 THEN 1 ELSE 2 END AS ch_x
         |  FROM ext),
         |fl AS (SELECT doc_id, kbps, rate_x, ch_x,
         |    (72000 * kbps) // rate_x + pad_x AS flen_x
         |  FROM dec),
         |g AS (SELECT doc_id, MIN(rate_x) AS sample_rate,
         |    MIN(ch_x) AS channels, COUNT(*) AS nf,
         |    SUM(kbps) AS skbps, SUM(flen_x) AS sfb
         |  FROM fl GROUP BY doc_id)
         |SELECT CAST(sample_rate AS BIGINT) AS sample_rate,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(COUNT(*) AS BIGINT) AS n_clips,
         |  CAST(SUM(nf) AS BIGINT) AS sum_frames,
         |  CAST(SUM(skbps) AS BIGINT) AS sum_kbps,
         |  CAST(SUM(sfb) AS BIGINT) AS sum_frame_bytes,
         |  CAST(SUM(nf * 576000 // sample_rate) AS BIGINT) AS sum_ms
         |FROM g GROUP BY 1, 2""".stripMargin
    },

    // positional replay of the VBR block: base/side offsets
    // recomputed from the shared fixture arithmetic, magic compared
    // as hex, counts read big-endian byte-by-byte, est_ms re-derived
    "mm_mp3_vbr" -> {
      import graft.multimodal.{ImageHex, Mp3Hex}
      import graft.multimodal.ImageHex.byteAt
      val rateE = Mp3Hex.rateCase(Mp3Hex.SrIdxE)
      def u32beAt(posE: String): String =
        (0 until 4).map { j =>
          s"${byteAt("hs", s"($posE + $j) * 2 + 1", "strpos")} * " +
            s"${1L << (8 * (3 - j))}"
        }.mkString("(", " + ", ")")
      s"""WITH b AS (SELECT doc_id,
         |    hex(from_hex(${Mp3Hex.mp3VbrHex(Mp3Hex.HasId3E,
              Mp3Hex.Id3PadE, Mp3Hex.NframesE, Mp3Hex.SrIdxE, rateE,
              Mp3Hex.ModeE, Mp3Hex.VbrMagicHexE, Mp3Hex.VbrFramesE,
              Mp3Hex.VbrBytesE, "//", ImageHex.seqJoinDuck)})) AS hs,
         |    $rateE AS rate,
         |    CASE WHEN ${Mp3Hex.HasId3E}
         |      THEN 10 + ${Mp3Hex.Id3PadE} ELSE 0 END AS base,
         |    ${Mp3Hex.sideE(Mp3Hex.ModeE)} AS side
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN substring(hs, (base + 4 + side) * 2 + 1, 8)
         |      = '58696E67' THEN 'Xing' ELSE 'Info' END AS tag,
         |  CAST(rate AS BIGINT) AS sample_rate,
         |  CAST(${u32beAt("base + 4 + side + 8")} AS BIGINT)
         |    AS vbr_frames,
         |  CAST(${u32beAt("base + 4 + side + 12")} AS BIGINT)
         |    AS vbr_bytes,
         |  CAST(${u32beAt("base + 4 + side + 8")} * 1152 * 1000
         |    // rate AS BIGINT) AS est_ms
         |FROM b""".stripMargin
    },

    // closed-form replay of Mp3SideFixture's deterministic fields:
    // the Spark side must recover them through the actual packed
    // side-info bits + main-data scalefactor walk (slen tables,
    // scfsi copy, part2_3_length skip); the oracle restates them
    // arithmetically, so any bit-layout disagreement hash-mismatches
    "mm_mp3_sideinfo" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS nch,
        |    CASE WHEN doc_id % 7 = 0 THEN (doc_id % 511) + 1
        |      ELSE 0 END AS mdb,
        |    doc_id % 2 AS wsf1,
        |    (doc_id % 3) + 1 AS btg1,
        |    CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS mx1
        |  FROM documents),
        |tg AS (SELECT *, unnest([0, 1]) AS g FROM t),
        |gc0 AS (SELECT *, unnest(range(0, nch)) AS c FROM tg),
        |gc AS (SELECT doc_id, nch, mdb, wsf1, btg1, mx1, g, c,
        |    CASE WHEN g = 1 THEN wsf1 ELSE 0 END AS wsf,
        |    (doc_id * 7 + g * 5 + c * 3) % 289 AS bigv,
        |    (doc_id * 9 + g * 17 + c * 23) % 256 AS gain,
        |    (doc_id * 7 + g * 13 + c * 37) % 120 AS filler,
        |    CASE WHEN wsf1 = 1 AND btg1 = 2 THEN 0
        |      ELSE (doc_id + 7 * c) % 16 END AS scfsi,
        |    list_extract([0,0,0,0,3,1,1,1,2,2,2,3,3,3,4,4],
        |      CAST((doc_id + g * 3 + c) % 16 AS INT) + 1) AS s1,
        |    list_extract([0,1,2,3,0,1,2,3,1,2,3,1,2,3,2,3],
        |      CAST((doc_id + g * 3 + c) % 16 AS INT) + 1) AS s2,
        |    list_extract([0,0,0,0,3,1,1,1,2,2,2,3,3,3,4,4],
        |      CAST((doc_id + c) % 16 AS INT) + 1) AS s1g0,
        |    list_extract([0,1,2,3,0,1,2,3,1,2,3,1,2,3,2,3],
        |      CAST((doc_id + c) % 16 AS INT) + 1) AS s2g0,
        |    (doc_id + g + c) % 2 AS pre,
        |    (doc_id // 2 + g) % 2 AS sfs,
        |    (doc_id // 4 + c) % 2 AS c1t
        |  FROM gc0),
        |p2 AS (SELECT *,
        |    CASE WHEN wsf = 1 AND btg1 = 2 THEN
        |        (CASE WHEN mx1 = 1 THEN 17 ELSE 18 END) * s1 + 18 * s2
        |      WHEN g = 1 THEN
        |        (CASE WHEN (scfsi >> 3) & 1 = 1 THEN 0 ELSE 6 * s1 END)
        |        + (CASE WHEN (scfsi >> 2) & 1 = 1 THEN 0 ELSE 5 * s1 END)
        |        + (CASE WHEN (scfsi >> 1) & 1 = 1 THEN 0 ELSE 5 * s2 END)
        |        + (CASE WHEN scfsi & 1 = 1 THEN 0 ELSE 5 * s2 END)
        |      ELSE 11 * s1 + 10 * s2 END AS part2,
        |    CASE WHEN wsf = 1 AND btg1 = 2 THEN
        |        CASE WHEN mx1 = 1 THEN 35 ELSE 36 END
        |      ELSE 21 END AS nslots,
        |    CASE WHEN wsf = 1 THEN
        |        ((doc_id * 5 + g * 3 + c * 2) % 32)
        |        + ((doc_id * 5 + g * 3 + c * 2 + 11) % 32)
        |      ELSE ((doc_id * 5 + g * 3 + c * 2) % 32)
        |        + ((doc_id * 5 + g * 3 + c * 2 + 11) % 32)
        |        + ((doc_id * 5 + g * 3 + c * 2 + 22) % 32) END AS tsel,
        |    CASE WHEN wsf = 0 THEN
        |        ((doc_id + c) % 16) * 8 + ((doc_id * 3 + c) % 8)
        |      ELSE 0 END AS reg,
        |    CASE WHEN wsf = 1 THEN
        |        ((doc_id + c) % 8) + ((doc_id + c + 1) % 8)
        |        + ((doc_id + c + 2) % 8)
        |      ELSE 0 END AS sbg
        |  FROM gc),
        |sfj AS (SELECT doc_id, g, c, wsf, btg1, mx1, scfsi,
        |    s1, s2, s1g0, s2g0, unnest(range(0, nslots)) AS j
        |  FROM p2),
        |sfv AS (SELECT doc_id, g, c, j,
        |    CASE WHEN g = 1 AND NOT (wsf = 1 AND btg1 = 2)
        |        AND (scfsi >> (3 - (CASE WHEN j < 6 THEN 0
        |          WHEN j < 11 THEN 1 WHEN j < 16 THEN 2
        |          ELSE 3 END))) & 1 = 1
        |      THEN (doc_id + c * 5 + j * 3)
        |        % (1 << (CASE WHEN j < 11 THEN s1g0 ELSE s2g0 END))
        |      ELSE (doc_id + g * 11 + c * 5 + j * 3)
        |        % (1 << (CASE WHEN wsf = 1 AND btg1 = 2 THEN
        |            CASE WHEN j < (CASE WHEN mx1 = 1 THEN 17
        |              ELSE 18 END) THEN s1 ELSE s2 END
        |          ELSE CASE WHEN j < 11 THEN s1 ELSE s2 END END))
        |      END AS v
        |  FROM sfj),
        |sfa AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS sfsum
        |  FROM sfv GROUP BY 1),
        |agg AS (SELECT doc_id,
        |    CAST(SUM(part2 + filler) AS BIGINT) AS p23s,
        |    CAST(SUM(bigv) AS BIGINT) AS bigvs,
        |    CAST(MAX(gain) AS BIGINT) AS gainm,
        |    CAST(SUM(tsel) AS BIGINT) AS tsels,
        |    CAST(SUM(reg) AS BIGINT) AS regs,
        |    CAST(SUM(sbg) AS BIGINT) AS sbgs,
        |    CAST(SUM(pre * 4 + sfs * 2 + c1t) AS BIGINT) AS flagss,
        |    CAST(SUM(part2) AS BIGINT) AS p2bits,
        |    CAST(SUM(nslots) AS BIGINT) AS sfn,
        |    CAST(SUM(CASE WHEN g = 0 THEN scfsi << (4 * c)
        |      ELSE 0 END) AS BIGINT) AS scfsim
        |  FROM p2 GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(t.mdb AS BIGINT) AS main_data_begin,
        |  CAST(t.nch AS BIGINT) AS channels,
        |  a.scfsim AS scfsi_mask,
        |  a.p23s AS p23_sum,
        |  a.bigvs AS bigv_sum,
        |  a.gainm AS gain_max,
        |  CAST(CASE WHEN t.wsf1 = 1 THEN t.btg1 ELSE 0 END
        |    AS BIGINT) AS bt1,
        |  CAST(CASE WHEN t.wsf1 = 1 THEN t.mx1 ELSE 0 END
        |    AS BIGINT) AS mixed1,
        |  a.tsels AS tsel_sum,
        |  a.regs AS reg_sum,
        |  a.sbgs AS sbg_sum,
        |  a.flagss AS flags_sum,
        |  CASE WHEN t.mdb <> 0 THEN -1 ELSE a.p2bits END
        |    AS part2_bits,
        |  CASE WHEN t.mdb <> 0 THEN -1 ELSE s.sfsum END AS sf_sum,
        |  CASE WHEN t.mdb <> 0 THEN -1 ELSE a.sfn END AS sf_n
        |FROM t JOIN agg a USING (doc_id)
        |JOIN sfa s USING (doc_id)""".stripMargin,

    // closed-form replay of the count1 quadruple census: the Spark
    // side must recover it through the complement-code Huffman walk
    // (scalefactor skip, 4-bit codes, per-nonzero sign bits, exact
    // part2_3 boundary); the oracle restates pattern/sign formulas
    "mm_mp3_count1" -> count1CensusSql,

    // TABLE-A lane: the identical census (quadruples/signs are the
    // same sequence) — recoverable only through the 1-6-bit tree
    "mm_mp3_count1a" -> count1CensusSql,

    // closed-form replay of the big-values fixture parameters: the
    // engine must recover this census through real Table-B.7
    // codewords, region splits and sign bits
    "mm_mp3_bigvalues" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS nch,
        |    CAST(doc_id % 4 AS BIGINT) AS r0,
        |    CAST((doc_id + 1) % 3 AS BIGINT) AS r1
        |  FROM documents),
        |gc AS (SELECT doc_id, nch, r0, r1, g.g, c.c
        |  FROM t, (SELECT unnest([0, 1]) AS g) g,
        |    (SELECT unnest([0, 1]) AS c) c
        |  WHERE c.c < nch),
        |gcb AS (SELECT *,
        |    (doc_id * 3 + g * 7 + c * 11) % 48 AS np,
        |    LEAST(list_extract([0,4,8,12,16,20,24,30,36],
        |      CAST(r0 + 2 AS INT)) // 2,
        |      (doc_id * 3 + g * 7 + c * 11) % 48) AS b0,
        |    LEAST(list_extract([0,4,8,12,16,20,24,30,36],
        |      CAST(r0 + r1 + 3 AS INT)) // 2,
        |      (doc_id * 3 + g * 7 + c * 11) % 48) AS b1,
        |    list_extract([0, 1, 2, 3, 5],
        |      CAST((doc_id + g * 2 + c * 3) % 5 AS INT) + 1) AS t0,
        |    list_extract([0, 1, 2, 3, 5],
        |      CAST((doc_id + g * 2 + c * 3 + 5) % 5 AS INT) + 1) AS t1,
        |    list_extract([0, 1, 2, 3, 5],
        |      CAST((doc_id + g * 2 + c * 3 + 10) % 5 AS INT) + 1) AS t2
        |  FROM gc),
        |pairs AS (SELECT doc_id, g, c,
        |    unnest(range(0, np)) AS i, b0, b1, t0, t1, t2
        |  FROM gcb),
        |coded AS (SELECT doc_id, g, c, i,
        |    CASE WHEN i < b0 THEN t0 WHEN i < b1 THEN t1
        |      ELSE t2 END AS tbl
        |  FROM pairs),
        |vals AS (SELECT doc_id, g, c, i,
        |    CASE WHEN tbl = 0 THEN 0
        |      ELSE (doc_id + i * 3 + g + c) %
        |        (CASE WHEN tbl = 1 THEN 2 WHEN tbl = 5 THEN 4
        |          ELSE 3 END) END AS x,
        |    CASE WHEN tbl = 0 THEN 0
        |      ELSE (doc_id // 2 + i * 5 + g * 2 + c) %
        |        (CASE WHEN tbl = 1 THEN 2 WHEN tbl = 5 THEN 4
        |          ELSE 3 END) END AS y,
        |    (doc_id + i + g) % 2 AS sx,
        |    (doc_id + i + c) % 2 AS sy
        |  FROM coded),
        |per AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN x <> 0 THEN 1 ELSE 0 END +
        |      CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_nonzero,
        |    CAST(SUM(CASE WHEN x <> 0 AND sx = 1 THEN 1 ELSE 0 END +
        |      CASE WHEN y <> 0 AND sy = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_neg,
        |    CAST(SUM(x * (1 - 2 * sx) + y * (1 - 2 * sy)) AS BIGINT)
        |      AS sum_vals
        |  FROM vals GROUP BY 1),
        |np_tot AS (SELECT doc_id,
        |    CAST(2 * ANY_VALUE(nch) AS BIGINT) AS n_regions,
        |    CAST(SUM(np) AS BIGINT) AS n_pairs
        |  FROM gcb GROUP BY 1)
        |SELECT doc_id, n_regions, n_pairs,
        |  COALESCE(n_nonzero, 0) AS n_nonzero,
        |  COALESCE(n_neg, 0) AS n_neg,
        |  COALESCE(sum_vals, 0) AS sum_vals
        |FROM np_tot LEFT JOIN per USING (doc_id)""".stripMargin,

    // combined replay: the big-values census over the part3 pair
    // count + the count1 census over the part3 quadruple count
    "mm_mp3_part3" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS nch,
        |    CAST(doc_id % 4 AS BIGINT) AS r0,
        |    CAST((doc_id + 1) % 3 AS BIGINT) AS r1
        |  FROM documents),
        |gc AS (SELECT doc_id, nch, r0, r1, g.g, c.c,
        |    ((doc_id * 3 + g.g * 7 + c.c * 11) % 48) % 24 AS np,
        |    (doc_id + g.g * 3 + c.c * 5) % 12 AS nq
        |  FROM t, (SELECT unnest([0, 1]) AS g) g,
        |    (SELECT unnest([0, 1]) AS c) c
        |  WHERE c.c < nch),
        |gcb AS (SELECT *,
        |    LEAST(list_extract([0,4,8,12,16,20,24,30,36],
        |      CAST(r0 + 2 AS INT)) // 2, np) AS b0,
        |    LEAST(list_extract([0,4,8,12,16,20,24,30,36],
        |      CAST(r0 + r1 + 3 AS INT)) // 2, np) AS b1,
        |    list_extract([0, 1, 2, 3, 5],
        |      CAST((doc_id + g * 2 + c * 3) % 5 AS INT) + 1) AS t0,
        |    list_extract([0, 1, 2, 3, 5],
        |      CAST((doc_id + g * 2 + c * 3 + 5) % 5 AS INT) + 1) AS t1,
        |    list_extract([0, 1, 2, 3, 5],
        |      CAST((doc_id + g * 2 + c * 3 + 10) % 5 AS INT) + 1) AS t2
        |  FROM gc),
        |pairs AS (SELECT doc_id, g, c,
        |    unnest(range(0, np)) AS i, b0, b1, t0, t1, t2
        |  FROM gcb),
        |coded AS (SELECT doc_id, g, c, i,
        |    CASE WHEN i < b0 THEN t0 WHEN i < b1 THEN t1
        |      ELSE t2 END AS tbl
        |  FROM pairs),
        |bvvals AS (SELECT doc_id,
        |    CASE WHEN tbl = 0 THEN 0
        |      ELSE (doc_id + i * 3 + g + c) %
        |        (CASE WHEN tbl = 1 THEN 2 WHEN tbl = 5 THEN 4
        |          ELSE 3 END) END AS x,
        |    CASE WHEN tbl = 0 THEN 0
        |      ELSE (doc_id // 2 + i * 5 + g * 2 + c) %
        |        (CASE WHEN tbl = 1 THEN 2 WHEN tbl = 5 THEN 4
        |          ELSE 3 END) END AS y,
        |    (doc_id + i + g) % 2 AS sx,
        |    (doc_id + i + c) % 2 AS sy
        |  FROM coded),
        |bvper AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN x <> 0 THEN 1 ELSE 0 END +
        |      CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz,
        |    CAST(SUM(CASE WHEN x <> 0 AND sx = 1 THEN 1 ELSE 0 END +
        |      CASE WHEN y <> 0 AND sy = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn,
        |    CAST(SUM(x * (1 - 2 * sx) + y * (1 - 2 * sy)) AS BIGINT)
        |      AS sv
        |  FROM bvvals GROUP BY 1),
        |qk AS (SELECT doc_id, q.q,
        |    (doc_id + q.q * 7 + g + c) % 16 AS pat, kk.k
        |  FROM gcb, (SELECT unnest(range(0, 12)) AS q) q,
        |    (SELECT unnest([0, 1, 2, 3]) AS k) kk
        |  WHERE q.q < nq),
        |c1vals AS (SELECT doc_id,
        |    (pat >> (3 - k)) & 1 AS bit,
        |    CASE WHEN (pat >> (3 - k)) & 1 = 1 THEN
        |      CASE WHEN (doc_id + q + k) % 2 = 1 THEN -1 ELSE 1 END
        |      ELSE 0 END AS v
        |  FROM qk),
        |c1per AS (SELECT doc_id,
        |    CAST(SUM(bit) AS BIGINT) AS nz,
        |    CAST(SUM(CASE WHEN v = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nn,
        |    CAST(SUM(v) AS BIGINT) AS sv
        |  FROM c1vals GROUP BY 1),
        |base AS (SELECT doc_id,
        |    CAST(2 * ANY_VALUE(nch) AS BIGINT) AS n_regions,
        |    CAST(SUM(np) AS BIGINT) AS n_pairs,
        |    CAST(SUM(nq) AS BIGINT) AS n_quads
        |  FROM gcb GROUP BY 1)
        |SELECT b.doc_id, b.n_regions, b.n_pairs, b.n_quads,
        |  COALESCE(bv.nz, 0) + COALESCE(c1.nz, 0) AS n_nonzero,
        |  COALESCE(bv.nn, 0) + COALESCE(c1.nn, 0) AS n_neg,
        |  COALESCE(bv.sv, 0) + COALESCE(c1.sv, 0) AS sum_vals
        |FROM base b LEFT JOIN bvper bv ON b.doc_id = bv.doc_id
        |LEFT JOIN c1per c1 ON b.doc_id = c1.doc_id""".stripMargin,

    // closed-form replay of the chroma-DC CAVLC fixture census: the
    // engine must recover it through real coeff_token / level-ladder
    // / total_zeros / run_before bits behind NAL escaping
    "mm_h264_cavlc" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS n_mbs
        |  FROM documents),
        |blk AS (SELECT doc_id, n_mbs, mb.mb, u.u,
        |    (doc_id + mb.mb * 3 + u.u * 2) % 5 AS tc,
        |    LEAST((doc_id + mb.mb * 3 + u.u * 2) % 5,
        |      (doc_id + mb.mb + u.u) % 4) AS t1
        |  FROM t, (SELECT unnest([0, 1, 2]) AS mb) mb,
        |    (SELECT unnest([0, 1]) AS u) u
        |  WHERE mb.mb < n_mbs),
        |blk2 AS (SELECT *,
        |    CASE WHEN tc = 0 OR tc = 4 THEN 0
        |      ELSE (doc_id + mb + u) % (5 - tc) END AS tz
        |  FROM blk),
        |trail AS (SELECT doc_id,
        |    CAST((doc_id + mb + u + j) % 2 AS BIGINT) AS neg
        |  FROM blk2, (SELECT unnest([0, 1, 2]) AS j) jj
        |  WHERE jj.j < t1),
        |lev AS (SELECT doc_id,
        |    2 + (doc_id + mb * 5 + u * 7 + j * 3) % 3 AS lv,
        |    CAST((doc_id + u + j) % 2 AS BIGINT) AS neg
        |  FROM blk2, (SELECT unnest([0, 1, 2, 3]) AS j) jj
        |  WHERE jj.j < tc - t1),
        |tr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n1,
        |    CAST(SUM(neg) AS BIGINT) AS neg1,
        |    CAST(SUM(1 - 2 * neg) AS BIGINT) AS sum1
        |  FROM trail GROUP BY 1),
        |lv AS (SELECT doc_id, CAST(SUM(neg) AS BIGINT) AS neg2,
        |    CAST(SUM(lv * (1 - 2 * neg)) AS BIGINT) AS sum2
        |  FROM lev GROUP BY 1),
        |base AS (SELECT doc_id, ANY_VALUE(n_mbs) AS n_mbs,
        |    CAST(SUM(tc) AS BIGINT) AS n_coeffs,
        |    CAST(SUM(t1) AS BIGINT) AS n_t1,
        |    CAST(SUM(tz) AS BIGINT) AS sum_tz
        |  FROM blk2 GROUP BY 1)
        |SELECT b.doc_id, b.n_mbs, b.n_coeffs, b.n_t1,
        |  COALESCE(tr.neg1, 0) + COALESCE(lv.neg2, 0) AS n_neg,
        |  COALESCE(tr.sum1, 0) + COALESCE(lv.sum2, 0) AS sum_levels,
        |  b.sum_tz
        |FROM base b LEFT JOIN tr ON b.doc_id = tr.doc_id
        |LEFT JOIN lv ON b.doc_id = lv.doc_id""".stripMargin,

    // the two lanes' closed forms in one row: luma sums from the
    // luma parameter rules, chroma sums from the chroma rules,
    // negatives and total_zeros combined
    "mm_h264_cavlc_full" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS n_mbs
        |  FROM documents),
        |lblk AS (SELECT doc_id, n_mbs, mb.mb,
        |    (doc_id * 3 + mb.mb * 7) % 17 AS tc,
        |    LEAST((doc_id * 3 + mb.mb * 7) % 17,
        |      (doc_id + mb.mb) % 4) AS t1
        |  FROM t, (SELECT unnest([0, 1, 2]) AS mb) mb
        |  WHERE mb.mb < n_mbs),
        |lblk2 AS (SELECT *,
        |    CASE WHEN tc = 0 OR tc = 16 THEN 0
        |      ELSE (doc_id + mb) % (17 - tc) END AS tz
        |  FROM lblk),
        |ltrail AS (SELECT doc_id,
        |    CAST((doc_id + mb + j) % 2 AS BIGINT) AS neg
        |  FROM lblk2, (SELECT unnest([0, 1, 2]) AS j) jj
        |  WHERE jj.j < t1),
        |llev AS (SELECT doc_id,
        |    2 + (doc_id + mb * 5 + j * 3) % 19 AS lv,
        |    CAST((doc_id + mb * 2 + j) % 2 AS BIGINT) AS neg
        |  FROM lblk2, (SELECT unnest(range(0, 16)) AS j) jj
        |  WHERE jj.j < tc - t1),
        |lagg AS (SELECT doc_id,
        |    CAST(SUM(tc) AS BIGINT) AS n_luma,
        |    CAST(SUM(tz) AS BIGINT) AS ltz
        |  FROM lblk2 GROUP BY 1),
        |lsum AS (SELECT doc_id,
        |    CAST(SUM(neg) AS BIGINT) AS lneg,
        |    CAST(SUM(sv) AS BIGINT) AS lsum
        |  FROM (SELECT doc_id, neg, 1 - 2 * neg AS sv FROM ltrail
        |    UNION ALL
        |    SELECT doc_id, neg, lv * (1 - 2 * neg) AS sv FROM llev)
        |  GROUP BY 1),
        |cblk AS (SELECT doc_id, n_mbs, mb.mb, u.u,
        |    (doc_id + mb.mb * 3 + u.u * 2) % 5 AS tc,
        |    LEAST((doc_id + mb.mb * 3 + u.u * 2) % 5,
        |      (doc_id + mb.mb + u.u) % 4) AS t1
        |  FROM t, (SELECT unnest([0, 1, 2]) AS mb) mb,
        |    (SELECT unnest([0, 1]) AS u) u
        |  WHERE mb.mb < n_mbs),
        |cblk2 AS (SELECT *,
        |    CASE WHEN tc = 0 OR tc = 4 THEN 0
        |      ELSE (doc_id + mb + u) % (5 - tc) END AS tz
        |  FROM cblk),
        |ctrail AS (SELECT doc_id,
        |    CAST((doc_id + mb + u + j) % 2 AS BIGINT) AS neg
        |  FROM cblk2, (SELECT unnest([0, 1, 2]) AS j) jj
        |  WHERE jj.j < t1),
        |clev AS (SELECT doc_id,
        |    2 + (doc_id + mb * 5 + u * 7 + j * 3) % 3 AS lv,
        |    CAST((doc_id + u + j) % 2 AS BIGINT) AS neg
        |  FROM cblk2, (SELECT unnest([0, 1, 2, 3]) AS j) jj
        |  WHERE jj.j < tc - t1),
        |cagg AS (SELECT doc_id,
        |    CAST(SUM(tc) AS BIGINT) AS n_chroma,
        |    CAST(SUM(tz) AS BIGINT) AS ctz
        |  FROM cblk2 GROUP BY 1),
        |csum AS (SELECT doc_id,
        |    CAST(SUM(neg) AS BIGINT) AS cneg,
        |    CAST(SUM(sv) AS BIGINT) AS csum
        |  FROM (SELECT doc_id, neg, 1 - 2 * neg AS sv FROM ctrail
        |    UNION ALL
        |    SELECT doc_id, neg, lv * (1 - 2 * neg) AS sv FROM clev)
        |  GROUP BY 1)
        |SELECT t.doc_id, t.n_mbs,
        |  COALESCE(la.n_luma, 0) AS n_luma,
        |  COALESCE(ls.lsum, 0) AS luma_sum,
        |  COALESCE(ca.n_chroma, 0) AS n_chroma,
        |  COALESCE(cs.csum, 0) AS chroma_sum,
        |  COALESCE(ls.lneg, 0) + COALESCE(cs.cneg, 0) AS n_neg,
        |  COALESCE(la.ltz, 0) + COALESCE(ca.ctz, 0) AS sum_tz
        |FROM t LEFT JOIN lagg la ON t.doc_id = la.doc_id
        |LEFT JOIN lsum ls ON t.doc_id = ls.doc_id
        |LEFT JOIN cagg ca ON t.doc_id = ca.doc_id
        |LEFT JOIN csum cs ON t.doc_id = cs.doc_id""".stripMargin,

    // closed-form replay of the luma-lane fixture parameters
    // (H264Fixture.lumaTc/lumaT1/lumaTz/lumaLevelAbs/...): the Spark
    // side must walk the full 0<=nC<2 coeff_token column, the level
    // escapes, total_zeros and run_before to agree with these sums
    "mm_h264_cavlc_luma" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS n_mbs
        |  FROM documents),
        |blk AS (SELECT doc_id, n_mbs, mb.mb,
        |    (doc_id * 3 + mb.mb * 7) % 17 AS tc,
        |    LEAST((doc_id * 3 + mb.mb * 7) % 17,
        |      (doc_id + mb.mb) % 4) AS t1
        |  FROM t, (SELECT unnest([0, 1, 2]) AS mb) mb
        |  WHERE mb.mb < n_mbs),
        |blk2 AS (SELECT *,
        |    CASE WHEN tc = 0 OR tc = 16 THEN 0
        |      ELSE (doc_id + mb) % (17 - tc) END AS tz
        |  FROM blk),
        |trail AS (SELECT doc_id,
        |    CAST((doc_id + mb + j) % 2 AS BIGINT) AS neg
        |  FROM blk2, (SELECT unnest([0, 1, 2]) AS j) jj
        |  WHERE jj.j < t1),
        |lev AS (SELECT doc_id,
        |    2 + (doc_id + mb * 5 + j * 3) % 19 AS lv,
        |    CAST((doc_id + mb * 2 + j) % 2 AS BIGINT) AS neg
        |  FROM blk2, (SELECT unnest(range(0, 16)) AS j) jj
        |  WHERE jj.j < tc - t1),
        |tr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n1,
        |    CAST(SUM(neg) AS BIGINT) AS neg1,
        |    CAST(SUM(1 - 2 * neg) AS BIGINT) AS sum1
        |  FROM trail GROUP BY 1),
        |lv AS (SELECT doc_id, CAST(SUM(neg) AS BIGINT) AS neg2,
        |    CAST(SUM(lv * (1 - 2 * neg)) AS BIGINT) AS sum2
        |  FROM lev GROUP BY 1),
        |base AS (SELECT doc_id, ANY_VALUE(n_mbs) AS n_mbs,
        |    CAST(SUM(tc) AS BIGINT) AS n_coeffs,
        |    CAST(SUM(t1) AS BIGINT) AS n_t1,
        |    CAST(SUM(tz) AS BIGINT) AS sum_tz
        |  FROM blk2 GROUP BY 1)
        |SELECT b.doc_id, b.n_mbs, b.n_coeffs, b.n_t1,
        |  COALESCE(tr.neg1, 0) + COALESCE(lv.neg2, 0) AS n_neg,
        |  COALESCE(tr.sum1, 0) + COALESCE(lv.sum2, 0) AS sum_levels,
        |  b.sum_tz
        |FROM base b LEFT JOIN tr ON b.doc_id = tr.doc_id
        |LEFT JOIN lv ON b.doc_id = lv.doc_id""".stripMargin,

    // closed-form replay of the AC-lane fixture parameters
    // (H264Fixture.acTc/acT1/acTz/acLevelAbs/... + the luma rules
    // for the DC block) — including the §9.2.1 nC derivation spelled
    // RELATIONALLY as a raster-coordinate self-join over the blocks
    // (the third independent derivation beside the decoder's
    // transcribed §6.4.10.4 index arrays and the fixture's
    // coordinate formulas): sum_nc disagrees the moment any of the
    // three neighbour spellings drifts
    "mm_h264_cavlc_ac" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS n_mbs
        |  FROM documents),
        |mbs AS (SELECT doc_id, n_mbs, mb.mb FROM t,
        |  (SELECT unnest([0, 1, 2]) AS mb) mb WHERE mb.mb < n_mbs),
        |ab AS (SELECT doc_id, mb, b.b,
        |    2 * ((b.b // 4) % 2) + b.b % 2 AS xb,
        |    2 * (b.b // 8) + (b.b // 2) % 2 AS yb,
        |    list_extract([0, 1, 2, 3, 15, 2, 1],
        |      CAST((doc_id + mb * 3 + b.b * 5) % 7 AS INT) + 1) AS tc,
        |    LEAST(list_extract([0, 1, 2, 3, 15, 2, 1],
        |        CAST((doc_id + mb * 3 + b.b * 5) % 7 AS INT) + 1),
        |      (doc_id + mb + b.b) % 4) AS t1
        |  FROM mbs, (SELECT unnest(range(0, 16)) AS b) b),
        |ab2 AS (SELECT *, CASE WHEN tc = 0 OR tc = 15 THEN 0
        |    ELSE (doc_id + mb + b) % (16 - tc) END AS tz FROM ab),
        |nc AS (SELECT a.doc_id, a.mb, a.b, a.tc, a.t1, a.tz,
        |    CASE
        |      WHEN (a.xb > 0 OR a.mb > 0) AND a.yb > 0
        |        THEN (COALESCE(lft.tc, lmb.tc) + top.tc + 1) // 2
        |      WHEN a.xb > 0 OR a.mb > 0
        |        THEN COALESCE(lft.tc, lmb.tc)
        |      WHEN a.yb > 0 THEN top.tc
        |      ELSE 0 END AS nc
        |  FROM ab2 a
        |  LEFT JOIN ab2 lft ON a.doc_id = lft.doc_id
        |    AND a.mb = lft.mb AND lft.xb = a.xb - 1
        |    AND lft.yb = a.yb
        |  LEFT JOIN ab2 lmb ON a.doc_id = lmb.doc_id
        |    AND lmb.mb = a.mb - 1 AND lmb.xb = 3 AND lmb.yb = a.yb
        |  LEFT JOIN ab2 top ON a.doc_id = top.doc_id
        |    AND a.mb = top.mb AND top.xb = a.xb
        |    AND top.yb = a.yb - 1),
        |dc AS (SELECT doc_id, mb,
        |    (doc_id * 3 + mb * 7) % 17 AS tc,
        |    LEAST((doc_id * 3 + mb * 7) % 17,
        |      (doc_id + mb) % 4) AS t1,
        |    CASE WHEN (doc_id * 3 + mb * 7) % 17 IN (0, 16) THEN 0
        |      ELSE (doc_id + mb) %
        |        (17 - (doc_id * 3 + mb * 7) % 17) END AS tz,
        |    CASE WHEN mb = 0 THEN 0
        |      ELSE list_extract([0, 1, 2, 3, 15, 2, 1],
        |        CAST((doc_id + (mb - 1) * 3 + 25) % 7 AS INT) + 1)
        |      END AS nc
        |  FROM mbs),
        |dctr AS (SELECT doc_id,
        |    CAST((doc_id + mb + j) % 2 AS BIGINT) AS neg
        |  FROM dc, (SELECT unnest([0, 1, 2]) AS j) jj
        |  WHERE jj.j < t1),
        |dclv AS (SELECT doc_id,
        |    2 + (doc_id + mb * 5 + j * 3) % 19 AS lv,
        |    CAST((doc_id + mb * 2 + j) % 2 AS BIGINT) AS neg
        |  FROM dc, (SELECT unnest(range(0, 16)) AS j) jj
        |  WHERE jj.j < tc - t1),
        |actr AS (SELECT doc_id,
        |    CAST((doc_id + mb + b + j) % 2 AS BIGINT) AS neg
        |  FROM nc, (SELECT unnest([0, 1, 2]) AS j) jj
        |  WHERE jj.j < t1),
        |aclv AS (SELECT doc_id,
        |    2 + (doc_id + mb * 5 + b * 7 + j * 3) % 19 AS lv,
        |    CAST((doc_id + mb * 2 + b + j) % 2 AS BIGINT) AS neg
        |  FROM nc, (SELECT unnest(range(0, 15)) AS j) jj
        |  WHERE jj.j < tc - t1),
        |dcagg AS (SELECT doc_id, CAST(SUM(tc) AS BIGINT) AS n_dc,
        |    CAST(SUM(t1) AS BIGINT) AS t1d,
        |    CAST(SUM(tz) AS BIGINT) AS tzd,
        |    CAST(SUM(nc) AS BIGINT) AS ncd FROM dc GROUP BY 1),
        |acagg AS (SELECT doc_id, CAST(SUM(tc) AS BIGINT) AS n_ac,
        |    CAST(SUM(t1) AS BIGINT) AS t1a,
        |    CAST(SUM(tz) AS BIGINT) AS tza,
        |    CAST(SUM(nc) AS BIGINT) AS nca FROM nc GROUP BY 1),
        |dctra AS (SELECT doc_id, CAST(SUM(neg) AS BIGINT) AS negs,
        |    CAST(SUM(1 - 2 * neg) AS BIGINT) AS sums
        |  FROM dctr GROUP BY 1),
        |dclva AS (SELECT doc_id, CAST(SUM(neg) AS BIGINT) AS negs,
        |    CAST(SUM(lv * (1 - 2 * neg)) AS BIGINT) AS sums
        |  FROM dclv GROUP BY 1),
        |actra AS (SELECT doc_id, CAST(SUM(neg) AS BIGINT) AS negs,
        |    CAST(SUM(1 - 2 * neg) AS BIGINT) AS sums
        |  FROM actr GROUP BY 1),
        |aclva AS (SELECT doc_id, CAST(SUM(neg) AS BIGINT) AS negs,
        |    CAST(SUM(lv * (1 - 2 * neg)) AS BIGINT) AS sums
        |  FROM aclv GROUP BY 1)
        |SELECT t.doc_id, t.n_mbs, d.n_dc,
        |  COALESCE(dt.sums, 0) + COALESCE(dl.sums, 0) AS dc_sum,
        |  a.n_ac,
        |  COALESCE(atr.sums, 0) + COALESCE(al.sums, 0) AS ac_sum,
        |  d.t1d + a.t1a AS n_t1,
        |  COALESCE(dt.negs, 0) + COALESCE(dl.negs, 0) +
        |    COALESCE(atr.negs, 0) + COALESCE(al.negs, 0) AS n_neg,
        |  d.tzd + a.tza AS sum_tz,
        |  d.ncd + a.nca AS sum_nc
        |FROM t JOIN dcagg d ON t.doc_id = d.doc_id
        |JOIN acagg a ON t.doc_id = a.doc_id
        |LEFT JOIN dctra dt ON t.doc_id = dt.doc_id
        |LEFT JOIN dclva dl ON t.doc_id = dl.doc_id
        |LEFT JOIN actra atr ON t.doc_id = atr.doc_id
        |LEFT JOIN aclva al ON t.doc_id = al.doc_id""".stripMargin,

    // the complete-macroblock lane: the AC-lane replay PLUS the
    // chroma-DC closed forms (the mm_h264_cavlc rules) and the
    // chroma-AC class with its 2×2-grid nC replayed relationally —
    // four block classes, two independent neighbour censuses
    "mm_h264_cavlc_mb" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS n_mbs
        |  FROM documents),
        |mbs AS (SELECT doc_id, n_mbs, mb.mb FROM t,
        |  (SELECT unnest([0, 1, 2]) AS mb) mb WHERE mb.mb < n_mbs),
        |ab AS (SELECT doc_id, mb, b.b,
        |    2 * ((b.b // 4) % 2) + b.b % 2 AS xb,
        |    2 * (b.b // 8) + (b.b // 2) % 2 AS yb,
        |    list_extract([0, 1, 2, 3, 15, 2, 1],
        |      CAST((doc_id + mb * 3 + b.b * 5) % 7 AS INT) + 1) AS tc,
        |    LEAST(list_extract([0, 1, 2, 3, 15, 2, 1],
        |        CAST((doc_id + mb * 3 + b.b * 5) % 7 AS INT) + 1),
        |      (doc_id + mb + b.b) % 4) AS t1
        |  FROM mbs, (SELECT unnest(range(0, 16)) AS b) b),
        |ab2 AS (SELECT *, CASE WHEN tc = 0 OR tc = 15 THEN 0
        |    ELSE (doc_id + mb + b) % (16 - tc) END AS tz FROM ab),
        |nc AS (SELECT a.doc_id, a.mb, a.b, a.tc, a.t1, a.tz,
        |    CASE
        |      WHEN (a.xb > 0 OR a.mb > 0) AND a.yb > 0
        |        THEN (COALESCE(lft.tc, lmb.tc) + top.tc + 1) // 2
        |      WHEN a.xb > 0 OR a.mb > 0
        |        THEN COALESCE(lft.tc, lmb.tc)
        |      WHEN a.yb > 0 THEN top.tc
        |      ELSE 0 END AS nc
        |  FROM ab2 a
        |  LEFT JOIN ab2 lft ON a.doc_id = lft.doc_id
        |    AND a.mb = lft.mb AND lft.xb = a.xb - 1
        |    AND lft.yb = a.yb
        |  LEFT JOIN ab2 lmb ON a.doc_id = lmb.doc_id
        |    AND lmb.mb = a.mb - 1 AND lmb.xb = 3 AND lmb.yb = a.yb
        |  LEFT JOIN ab2 top ON a.doc_id = top.doc_id
        |    AND a.mb = top.mb AND top.xb = a.xb
        |    AND top.yb = a.yb - 1),
        |dc AS (SELECT doc_id, mb,
        |    (doc_id * 3 + mb * 7) % 17 AS tc,
        |    LEAST((doc_id * 3 + mb * 7) % 17,
        |      (doc_id + mb) % 4) AS t1,
        |    CASE WHEN (doc_id * 3 + mb * 7) % 17 IN (0, 16) THEN 0
        |      ELSE (doc_id + mb) %
        |        (17 - (doc_id * 3 + mb * 7) % 17) END AS tz,
        |    CASE WHEN mb = 0 THEN 0
        |      ELSE list_extract([0, 1, 2, 3, 15, 2, 1],
        |        CAST((doc_id + (mb - 1) * 3 + 25) % 7 AS INT) + 1)
        |      END AS nc
        |  FROM mbs),
        |cdc AS (SELECT doc_id, mb, u.u,
        |    (doc_id + mb * 3 + u.u * 2) % 5 AS tc,
        |    LEAST((doc_id + mb * 3 + u.u * 2) % 5,
        |      (doc_id + mb + u.u) % 4) AS t1,
        |    CASE WHEN (doc_id + mb * 3 + u.u * 2) % 5 IN (0, 4)
        |      THEN 0 ELSE (doc_id + mb + u.u) %
        |        (5 - (doc_id + mb * 3 + u.u * 2) % 5) END AS tz
        |  FROM mbs, (SELECT unnest([0, 1]) AS u) u),
        |cab AS (SELECT doc_id, mb, u.u, c.c,
        |    c.c % 2 AS xb, c.c // 2 AS yb,
        |    list_extract([0, 1, 2, 3, 15, 2, 1],
        |      CAST((doc_id + mb * 3 + u.u * 2 + c.c * 5) % 7 AS INT)
        |        + 1) AS tc,
        |    LEAST(list_extract([0, 1, 2, 3, 15, 2, 1],
        |        CAST((doc_id + mb * 3 + u.u * 2 + c.c * 5) % 7
        |          AS INT) + 1),
        |      (doc_id + mb + u.u + c.c) % 4) AS t1
        |  FROM mbs, (SELECT unnest([0, 1]) AS u) u,
        |    (SELECT unnest([0, 1, 2, 3]) AS c) c),
        |cab2 AS (SELECT *, CASE WHEN tc = 0 OR tc = 15 THEN 0
        |    ELSE (doc_id + mb + u + c) % (16 - tc) END AS tz
        |  FROM cab),
        |cnc AS (SELECT a.doc_id, a.mb, a.u, a.c, a.tc, a.t1, a.tz,
        |    CASE
        |      WHEN (a.xb > 0 OR a.mb > 0) AND a.yb > 0
        |        THEN (COALESCE(lft.tc, lmb.tc) + top.tc + 1) // 2
        |      WHEN a.xb > 0 OR a.mb > 0
        |        THEN COALESCE(lft.tc, lmb.tc)
        |      WHEN a.yb > 0 THEN top.tc
        |      ELSE 0 END AS nc
        |  FROM cab2 a
        |  LEFT JOIN cab2 lft ON a.doc_id = lft.doc_id
        |    AND a.mb = lft.mb AND a.u = lft.u
        |    AND lft.xb = a.xb - 1 AND lft.yb = a.yb
        |  LEFT JOIN cab2 lmb ON a.doc_id = lmb.doc_id
        |    AND lmb.mb = a.mb - 1 AND a.u = lmb.u
        |    AND lmb.xb = 1 AND lmb.yb = a.yb
        |  LEFT JOIN cab2 top ON a.doc_id = top.doc_id
        |    AND a.mb = top.mb AND a.u = top.u
        |    AND top.xb = a.xb AND top.yb = a.yb - 1),
        |vals AS (
        |  SELECT doc_id, CAST((doc_id + mb + j) % 2 AS BIGINT) AS neg,
        |      CAST(1 AS BIGINT) AS lv
        |    FROM dc, (SELECT unnest([0, 1, 2]) AS j) jj
        |    WHERE jj.j < t1
        |  UNION ALL
        |  SELECT doc_id, CAST((doc_id + mb * 2 + j) % 2 AS BIGINT),
        |      CAST(2 + (doc_id + mb * 5 + j * 3) % 19 AS BIGINT)
        |    FROM dc, (SELECT unnest(range(0, 16)) AS j) jj
        |    WHERE jj.j < tc - t1
        |  UNION ALL
        |  SELECT doc_id, CAST((doc_id + mb + b + j) % 2 AS BIGINT),
        |      CAST(1 AS BIGINT)
        |    FROM nc, (SELECT unnest([0, 1, 2]) AS j) jj
        |    WHERE jj.j < t1
        |  UNION ALL
        |  SELECT doc_id,
        |      CAST((doc_id + mb * 2 + b + j) % 2 AS BIGINT),
        |      CAST(2 + (doc_id + mb * 5 + b * 7 + j * 3) % 19
        |        AS BIGINT)
        |    FROM nc, (SELECT unnest(range(0, 15)) AS j) jj
        |    WHERE jj.j < tc - t1
        |  UNION ALL
        |  SELECT doc_id,
        |      CAST((doc_id + mb + u + j) % 2 AS BIGINT),
        |      CAST(1 AS BIGINT)
        |    FROM cdc, (SELECT unnest([0, 1, 2]) AS j) jj
        |    WHERE jj.j < t1
        |  UNION ALL
        |  SELECT doc_id, CAST((doc_id + u + j) % 2 AS BIGINT),
        |      CAST(2 + (doc_id + mb * 5 + u * 7 + j * 3) % 3
        |        AS BIGINT)
        |    FROM cdc, (SELECT unnest([0, 1, 2, 3]) AS j) jj
        |    WHERE jj.j < tc - t1
        |  UNION ALL
        |  SELECT doc_id,
        |      CAST((doc_id + mb + u + c + j) % 2 AS BIGINT),
        |      CAST(1 AS BIGINT)
        |    FROM cnc, (SELECT unnest([0, 1, 2]) AS j) jj
        |    WHERE jj.j < t1
        |  UNION ALL
        |  SELECT doc_id,
        |      CAST((doc_id + mb * 2 + u + c + j) % 2 AS BIGINT),
        |      CAST(2 + (doc_id + mb * 5 + u * 11 + c * 7 + j * 3)
        |        % 19 AS BIGINT)
        |    FROM cnc, (SELECT unnest(range(0, 15)) AS j) jj
        |    WHERE jj.j < tc - t1),
        |vagg AS (SELECT doc_id,
        |    CAST(SUM(lv * (1 - 2 * neg)) AS BIGINT) AS sum_levels,
        |    CAST(SUM(neg) AS BIGINT) AS n_neg
        |  FROM vals GROUP BY 1),
        |dagg AS (SELECT doc_id, CAST(SUM(tc) AS BIGINT) AS luma_dc,
        |    CAST(SUM(t1) AS BIGINT) AS t1s,
        |    CAST(SUM(tz) AS BIGINT) AS tzs,
        |    CAST(SUM(nc) AS BIGINT) AS ncs FROM dc GROUP BY 1),
        |aagg AS (SELECT doc_id, CAST(SUM(tc) AS BIGINT) AS luma_ac,
        |    CAST(SUM(t1) AS BIGINT) AS t1s,
        |    CAST(SUM(tz) AS BIGINT) AS tzs,
        |    CAST(SUM(nc) AS BIGINT) AS ncs FROM nc GROUP BY 1),
        |cdagg AS (SELECT doc_id,
        |    CAST(SUM(tc) AS BIGINT) AS chroma_dc,
        |    CAST(SUM(t1) AS BIGINT) AS t1s,
        |    CAST(SUM(tz) AS BIGINT) AS tzs FROM cdc GROUP BY 1),
        |caagg AS (SELECT doc_id,
        |    CAST(SUM(tc) AS BIGINT) AS chroma_ac,
        |    CAST(SUM(t1) AS BIGINT) AS t1s,
        |    CAST(SUM(tz) AS BIGINT) AS tzs,
        |    CAST(SUM(nc) AS BIGINT) AS ncs FROM cnc GROUP BY 1)
        |SELECT t.doc_id, t.n_mbs, d.luma_dc, a.luma_ac,
        |  cd.chroma_dc, ca.chroma_ac,
        |  COALESCE(v.sum_levels, 0) AS sum_levels,
        |  d.t1s + a.t1s + cd.t1s + ca.t1s AS n_t1,
        |  COALESCE(v.n_neg, 0) AS n_neg,
        |  d.tzs + a.tzs + cd.tzs + ca.tzs AS sum_tz,
        |  d.ncs + a.ncs + ca.ncs AS sum_nc
        |FROM t JOIN dagg d ON t.doc_id = d.doc_id
        |JOIN aagg a ON t.doc_id = a.doc_id
        |JOIN cdagg cd ON t.doc_id = cd.doc_id
        |JOIN caagg ca ON t.doc_id = ca.doc_id
        |LEFT JOIN vagg v ON t.doc_id = v.doc_id""".stripMargin,

    // arithmetic replay of H264Fixture.paramsOf: the Spark side
    // must recover these values through encode→escape→walk→
    // unescape→Exp-Golomb-decode; the oracle just restates them
    "mm_h264_sps" ->
      s"""WITH p AS (SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 66
         |      WHEN 1 THEN 77 ELSE 100 END AS profile_idc,
         |    list_extract([10, 20, 31, 40, 51],
         |      CAST(doc_id % 5 AS INT) + 1) AS level_idc,
         |    2 * ((doc_id % 640) + 8) AS w,
         |    4 * (((doc_id * 13) % 180) + 4) AS h
         |  FROM documents)
         |SELECT CAST(profile_idc AS BIGINT) AS profile_idc,
         |  CAST(level_idc AS BIGINT) AS level_idc,
         |  CAST(COUNT(*) AS BIGINT) AS n_videos,
         |  CAST(SUM(w) AS BIGINT) AS sum_w,
         |  CAST(SUM(h) AS BIGINT) AS sum_h,
         |  CAST(MAX(w) AS BIGINT) AS max_w,
         |  CAST(MAX(h) AS BIGINT) AS max_h,
         |  CAST(COUNT(*) * 4 AS BIGINT) AS sum_nals
         |FROM p GROUP BY 1, 2""".stripMargin,

    // arithmetic replay of the PCM sample rule (H264Fixture.pcmLuma/
    // pcmChroma/pcmDims): the Spark side must recover every raw
    // sample through the real bitstream walk — slice header,
    // alignment, escaping — before these statistics can agree
    "mm_h264_pcm" ->
      s"""WITH d AS (SELECT doc_id,
         |    16 * (1 + doc_id % 2) AS w FROM documents),
         |mbs AS (SELECT doc_id, w,
         |    unnest(range(0, w // 16)) AS mb FROM d),
         |lk AS (SELECT doc_id, w, mb,
         |    unnest(range(0, 256)) AS k FROM mbs),
         |lv AS (SELECT doc_id, w, mb, CASE WHEN k < 3 THEN 0
         |    ELSE (doc_id * 7 + mb * 31 + k * 5) % 256 END AS v
         |  FROM lk),
         |lstat AS (SELECT doc_id, w, mb,
         |    CAST(SUM(v) AS BIGINT) AS luma_sum,
         |    CAST(MIN(v) AS BIGINT) AS luma_min,
         |    CAST(MAX(v) AS BIGINT) AS luma_max
         |  FROM lv GROUP BY 1, 2, 3),
         |mbc AS (SELECT doc_id, mb,
         |    unnest(range(0, 2)) AS c FROM mbs),
         |ck AS (SELECT doc_id, mb, c,
         |    unnest(range(0, 64)) AS k FROM mbc),
         |cstat AS (SELECT doc_id, mb,
         |    CAST(SUM((doc_id * 11 + mb * 17 + c * 29 + k * 3) % 256)
         |      AS BIGINT) AS cbcr_sum
         |  FROM ck GROUP BY 1, 2)
         |SELECT l.doc_id, CAST(l.mb AS BIGINT) AS mb_i, l.luma_sum,
         |  l.luma_min, l.luma_max, c.cbcr_sum,
         |  CAST(l.w AS BIGINT) AS width, CAST(16 AS BIGINT) AS height
         |FROM lstat l JOIN cstat c
         |  ON l.doc_id = c.doc_id AND l.mb = c.mb""".stripMargin,

    // the oracle reads the parquet table directly — the hash match
    // therefore proves the engine's JSONL write→read cycle is
    // byte-lossless on every column, text content included
    "llm_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    // losslessness contracts for the other two interchange formats:
    // the oracle IS the source table
    "llm_orc_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "llm_csv_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
  )
}
