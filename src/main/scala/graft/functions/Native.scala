package graft.functions

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

import graft.llm.{Warc, Zstd}
import graft.multimodal._

/** One native function: SQL `name`, the static method
  * `target.method` that computes it, its result type, its exact
  * argument types, and whether the method may return null for a
  * non-null input (a payload the decoder rejects).
  *
  * Null arguments never reach the method: the call is null-in,
  * null-out. `usage` is what `DESCRIBE FUNCTION` prints. */
case class NativeFn(name: String, target: AnyRef, method: String,
    dataType: DataType, inputTypes: Seq[DataType],
    returnNullable: Boolean, usage: String) {
  def apply(cols: Column*): Column =
    ColumnBridge.column(NativeCall(this, cols.map(ColumnBridge.expression)))
}

object NativeFn {
  /** A struct whose fields are all NOT NULL — the shape of every
    * decoder row that has no optional field. */
  def row(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) =>
      StructField(n, t, nullable = false) })
}

/** A [[NativeFn]] call. The argument count is checked on
  * construction and the argument types at analysis (a wrong-typed
  * argument is rejected, never cast); the optimizer then replaces the
  * call by a `StaticInvoke` of the method, which compiles to one
  * static Java call inside whole-stage codegen and runs by reflection
  * in interpreted mode. This is how Spark builds its own
  * `url_encode`. */
case class NativeCall(fn: NativeFn, children: Seq[Expression])
    extends RuntimeReplaceable with ExpectsInputTypes {

  if (children.length != fn.inputTypes.length)
    throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
      "functionName" -> s"`${fn.name}`",
      "expectedNum" -> fn.inputTypes.length.toString,
      "actualNum" -> children.length.toString,
      "docroot" -> org.apache.spark.SPARK_DOC_ROOT))

  override lazy val replacement: Expression = StaticInvoke(
    fn.target.getClass, fn.dataType, fn.method, children,
    propagateNull = true, returnNullable = fn.returnNullable)

  override def inputTypes: Seq[DataType] = fn.inputTypes
  override def dataType: DataType = fn.dataType
  override def prettyName: String = fn.name
  override protected def stringArgs: Iterator[Any] = children.iterator

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): NativeCall = copy(children = c)
}

/** Every single-call native function of the engine, one entry each;
  * `GraftExtensions` registers all of them by SQL name and Scala code
  * calls them as `NativeFunctions.id3Tags(col("payload"))`.
  *
  * Decoders take the raw payload and return null when it is not the
  * format they parse (fail closed); their result rows are declared
  * next to the method that builds them. Fixtures take a `doc_id` and
  * return a deterministic payload whose every field is a closed-form
  * function of it — the encode half of an oracle-checked round-trip.
  *
  * Functions with real logic outside one static call keep their own
  * expression classes: `is_valid_iri` (null → false), `dot_product_l`
  * (matched by [[graft.plans.DotProductRewrite]]), `deflate_ratio`
  * (sentinel → null), the BPE merges, and the `top_k_l`, `top_k_ls`,
  * `vec_sum_l` and quantile aggregates. */
object NativeFunctions {
  private val entries = Vector.newBuilder[NativeFn]

  private def fn(name: String, target: AnyRef, method: String,
      dataType: DataType, inputTypes: Seq[DataType],
      returnNullable: Boolean, usage: String): NativeFn = {
    val f = NativeFn(name, target, method, dataType, inputTypes,
      returnNullable, usage)
    entries += f
    f
  }

  /** A decoder: `binary` payload → its result, null when rejected. */
  private def decoder(name: String, target: AnyRef, method: String,
      dataType: DataType, usage: String): NativeFn =
    fn(name, target, method, dataType, Seq(BinaryType),
      returnNullable = true, usage)

  /** A fixture: `bigint` doc id → a deterministic payload. */
  private def fixture(name: String, target: AnyRef, method: String,
      usage: String): NativeFn =
    fn(name, target, method, BinaryType, Seq(LongType),
      returnNullable = false, usage)

  // ---- images -----------------------------------------------------
  val imageDims = decoder("image_dims", ImageHeaders, "parseRow",
    ImageHeaders.parseRowType,
    "image_dims(binary) - struct<kind, width, height> from the PNG, " +
      "JPEG, GIF, WebP or TIFF header")
  val imageLevels = decoder("image_levels", ImageHeaders, "bmpLevelsRow",
    ImageHeaders.bmpLevelsRowType,
    "image_levels(binary) - exact per-channel pixel sums of a 24-bit " +
      "BI_RGB BMP")
  val pngLevels = decoder("png_levels", ImageHeaders, "pngLevelsRow",
    ImageHeaders.pngLevelsRowType,
    "png_levels(binary) - exact per-channel pixel sums of a decoded " +
      "8/16-bit PNG (inflate + scanline unfiltering)")
  val jpegLuma = decoder("jpeg_luma", JpegDecode, "lumaLevelsRow",
    JpegDecode.lumaLevelsRowType,
    "jpeg_luma(binary) - pixel count and luma sum of a decoded " +
      "baseline JPEG")
  val exifMeta = decoder("exif_meta", ExifHeaders, "parseRow",
    ExifHeaders.parseRowType,
    "exif_meta(binary) - JPEG width, height and EXIF orientation " +
      "(1 when absent)")
  val dhash64 = decoder("dhash64", ImageGrid, "dhashRow",
    ImageGrid.dhashRowType,
    "dhash64(binary) - 64-bit difference hash of a decoded PNG's luma " +
      "grid as two non-negative 32-bit halves")
  val lumaCells = decoder("luma_cells", ImageGrid, "cellRows",
    ImageGrid.cellRowsType,
    "luma_cells(binary) - the 4x4 luma cell sums and counts of a " +
      "decoded PNG")

  // ---- audio ------------------------------------------------------
  val audioMeta = decoder("audio_meta", AudioHeaders, "parseRow",
    AudioHeaders.parseRowType,
    "audio_meta(binary) - channels, sample rate, bits and sample count " +
      "of a WAV, FLAC or Ogg Vorbis stream")
  val audioLevels = decoder("audio_levels", AudioHeaders, "levelsRow",
    AudioHeaders.levelsRowType,
    "audio_levels(binary) - exact energy, peak and clip count of a " +
      "16-bit PCM WAV")
  val audioUlawLevels = decoder("audio_ulaw_levels", AudioHeaders,
    "ulawLevelsRow", AudioHeaders.ulawLevelsRowType,
    "audio_ulaw_levels(binary) - audio_levels of a G.711 mu-law WAV, " +
      "after expansion")
  val audioAlawLevels = decoder("audio_alaw_levels", AudioHeaders,
    "alawLevelsRow", AudioHeaders.alawLevelsRowType,
    "audio_alaw_levels(binary) - audio_levels of a G.711 A-law WAV, " +
      "after expansion")
  val audioFp = decoder("audio_fp", AudioHeaders, "fingerprintRow",
    AudioHeaders.fingerprintRowType,
    "audio_fp(binary) - frame-energy delta-sign fingerprint of a " +
      "16-bit PCM WAV")
  val flacTags = decoder("flac_tags", AudioHeaders, "flacTagsRow",
    AudioHeaders.flacTagsRowType,
    "flac_tags(binary) - title, artist and album from a FLAC or Ogg " +
      "VORBIS_COMMENT block")
  val flacPcmLevels = decoder("flac_pcm_levels", AudioHeaders,
    "flacPcmRow", AudioHeaders.flacPcmRowType,
    "flac_pcm_levels(binary) - exact energy, peak and clip count of " +
      "decoded FLAC frames")
  val flacFixedFixture = fixture("flac_fixed_fixture", FlacFixture,
    "stream", "flac_fixed_fixture(doc_id) - a FLAC stream of " +
      "FIXED-predictor subframes with Rice-coded residuals")
  val flacLpcFixture = fixture("flac_lpc_fixture", FlacFixture,
    "streamLpc", "flac_lpc_fixture(doc_id) - a FLAC stream of LPC " +
      "subframes")
  val flacStereoFixture = fixture("flac_stereo_fixture", FlacFixture,
    "streamStereo", "flac_stereo_fixture(doc_id) - a FLAC stream with " +
      "decorrelated stereo channels")
  val flacWastedFixture = fixture("flac_wasted_fixture", FlacFixture,
    "streamWasted", "flac_wasted_fixture(doc_id) - a FLAC stream with " +
      "wasted-bits subframes")

  // ---- mp3 --------------------------------------------------------
  val mp3Meta = decoder("mp3_meta", Mp3Headers, "parseRow",
    Mp3Headers.parseRowType,
    "mp3_meta(binary) - frame count, rate, channels and bitrate sums " +
      "of an MPEG Layer III stream")
  val mp3Vbr = decoder("mp3_vbr", Mp3Headers, "vbrRow",
    Mp3Headers.vbrRowType,
    "mp3_vbr(binary) - the Xing/Info VBR header and its duration " +
      "estimate")
  val id3Tags = decoder("id3_tags", Mp3Headers, "id3TagsRow",
    Mp3Headers.id3TagsRowType,
    "id3_tags(binary) - title, artist and album from an ID3v2.2/2.3/2.4 " +
      "tag; a field is null when its frame is absent")
  val mp3SideInfo = decoder("mp3_side_info", Mp3Headers, "sideInfoRow",
    Mp3Headers.sideInfoRowType,
    "mp3_side_info(binary) - side-information and scale-factor census " +
      "of the first MPEG-1 Layer III frame")
  val mp3Count1 = decoder("mp3_count1", Mp3Headers, "count1Row",
    Mp3Headers.count1RowType,
    "mp3_count1(binary) - Huffman-decoded count1 quadruple census")
  val mp3Bigvalues = decoder("mp3_bigvalues", Mp3Headers,
    "bigvaluesRow", Mp3Headers.bigvaluesRowType,
    "mp3_bigvalues(binary) - Huffman-decoded big-values pair census")
  val mp3Part3 = decoder("mp3_part3", Mp3Headers, "part3Row",
    Mp3Headers.part3RowType,
    "mp3_part3(binary) - big-values plus count1 census of the whole " +
      "part3 region")
  val mp3SideFixture = fixture("mp3_side_fixture", Mp3SideFixture,
    "stream", "mp3_side_fixture(doc_id) - an MPEG-1 Layer III frame " +
      "with bit-packed side information")
  val mp3Count1Fixture = fixture("mp3_count1_fixture", Mp3SideFixture,
    "streamCount1", "mp3_count1_fixture(doc_id) - a Layer III frame " +
      "with count1 table B quadruples")
  val mp3Count1aFixture = fixture("mp3_count1a_fixture",
    Mp3SideFixture, "streamCount1A", "mp3_count1a_fixture(doc_id) - a " +
      "Layer III frame with count1 table A quadruples")
  val mp3BigvaluesFixture = fixture("mp3_bigvalues_fixture",
    Mp3SideFixture, "streamBigvalues", "mp3_bigvalues_fixture(doc_id) " +
      "- a Layer III frame with Huffman big-values pairs")
  val mp3Part3Fixture = fixture("mp3_part3_fixture", Mp3SideFixture,
    "streamPart3", "mp3_part3_fixture(doc_id) - a Layer III frame with " +
      "big-values and count1 regions")

  // ---- video ------------------------------------------------------
  val videoMeta = decoder("video_meta", VideoHeaders, "parseRow",
    VideoHeaders.parseRowType,
    "video_meta(binary) - width, height, timescale and duration of an " +
      "MP4 or AVI file")
  val mp4Samples = decoder("mp4_samples", VideoHeaders, "samplesRow",
    VideoHeaders.samplesRowType,
    "mp4_samples(binary) - stsz/stco sample-table census of an MP4")
  val mp4SampleFixture = fixture("mp4_sample_fixture", Mp4Fixture,
    "stream", "mp4_sample_fixture(doc_id) - an MP4 with stsz and stco " +
      "sample tables")
  val h264Sps = decoder("h264_sps", H264Headers, "parseRow",
    H264Headers.parseRowType,
    "h264_sps(binary) - profile, level and dimensions from an Annex-B " +
      "stream's SPS")
  val h264PcmMbs = decoder("h264_pcm_mbs", H264Pcm, "decodeRows",
    H264Pcm.decodeRowsType,
    "h264_pcm_mbs(binary) - per-macroblock sample sums of an I_PCM " +
      "IDR slice")
  val h264Cavlc = decoder("h264_cavlc", H264Cavlc, "decodeRow",
    H264Cavlc.decodeRowType,
    "h264_cavlc(binary) - CAVLC chroma-DC residual census of an " +
      "Annex-B stream")
  val h264CavlcLuma = decoder("h264_cavlc_luma", H264Cavlc,
    "decodeLumaRow", H264Cavlc.decodeLumaRowType,
    "h264_cavlc_luma(binary) - CAVLC Intra16x16 luma-DC residual census")
  val h264CavlcFull = decoder("h264_cavlc_full", H264Cavlc,
    "decodeFullRow", H264Cavlc.decodeFullRowType,
    "h264_cavlc_full(binary) - CAVLC luma-DC plus chroma-DC residual " +
      "census")
  val h264CavlcAc = decoder("h264_cavlc_ac", H264Cavlc, "decodeAcRow",
    H264Cavlc.decodeAcRowType,
    "h264_cavlc_ac(binary) - CAVLC luma DC plus AC residual census, " +
      "blocks routed by neighbour nC")
  val h264CavlcMb = decoder("h264_cavlc_mb", H264Cavlc, "decodeMbRow",
    H264Cavlc.decodeMbRowType,
    "h264_cavlc_mb(binary) - CAVLC residual census of every block " +
      "class: luma DC/AC and chroma DC/AC")

  // ---- vorbis -----------------------------------------------------
  val vorbisBooks = decoder("vorbis_books", Vorbis, "booksRow",
    Vorbis.booksRowType,
    "vorbis_books(binary) - setup-header codebook census and the " +
      "symbols decoded through them")
  val vorbisVq = decoder("vorbis_vq", Vorbis, "vqRow", Vorbis.vqRowType,
    "vorbis_vq(binary) - codebook VQ lookup-table census")
  val vorbisFloor = decoder("vorbis_floor", Vorbis, "floorRow",
    Vorbis.floorRowType,
    "vorbis_floor(binary) - floor1 final_Y vector census")
  val vorbisFloorCurve = decoder("vorbis_floor_curve", Vorbis,
    "floorCurveRow", Vorbis.floorCurveRowType,
    "vorbis_floor_curve(binary) - the rendered floor1 curve census")
  val vorbisResidue = decoder("vorbis_residue", Vorbis, "residueRow",
    Vorbis.residueRowType,
    "vorbis_residue(binary) - residue classword cascade census")
  val vorbisResidueApply = decoder("vorbis_residue_apply", Vorbis,
    "residueApplyRow", Vorbis.residueApplyRowType,
    "vorbis_residue_apply(binary) - residue VQ values census")
  val vorbisResidueScale = decoder("vorbis_residue_scale", Vorbis,
    "residueScaleRow", Vorbis.residueScaleRowType,
    "vorbis_residue_scale(binary) - residue values census with " +
      "floor scaling")
  val vorbisFixture = fixture("vorbis_fixture", Vorbis, "stream",
    "vorbis_fixture(doc_id) - an Ogg Vorbis stream with codebooks and " +
      "symbol packets")
  val vorbisVqFixture = fixture("vorbis_vq_fixture", Vorbis, "streamVq",
    "vorbis_vq_fixture(doc_id) - an Ogg Vorbis setup with VQ lookups")
  val vorbisFloorFixture = fixture("vorbis_floor_fixture", Vorbis,
    "streamFloor", "vorbis_floor_fixture(doc_id) - an Ogg Vorbis " +
      "stream with a floor1 packet")
  val vorbisResidueFixture = fixture("vorbis_residue_fixture", Vorbis,
    "streamResidue", "vorbis_residue_fixture(doc_id) - an Ogg Vorbis " +
      "stream with a residue packet")
  val vorbisResidueApplyFixture = fixture("vorbis_residue_apply_fixture",
    Vorbis, "streamResidueApply", "vorbis_residue_apply_fixture(doc_id) " +
      "- an Ogg Vorbis stream with residue VQ values")
  val vorbisResidueScaleFixture = fixture("vorbis_residue_scale_fixture",
    Vorbis, "streamResidueScale", "vorbis_residue_scale_fixture(doc_id) " +
      "- an Ogg Vorbis stream with floor-scaled residue values")

  // ---- archives and codecs ----------------------------------------
  val warcRecords = decoder("warc_records", Warc, "parseArray",
    Warc.parseArrayType,
    "warc_records(binary) - the records of a plain or gzip-member WARC " +
      "file")
  val zstdFrames = decoder("zstd_frames", Zstd, "parseRow",
    Zstd.parseRowType,
    "zstd_frames(binary) - frame-layer census of a Zstandard payload " +
      "with raw/RLE blocks regenerated")
  val zstdFixture = fixture("zstd_fixture", Zstd, "stream",
    "zstd_fixture(doc_id) - a multi-frame Zstandard payload of raw and " +
      "RLE blocks")
  val gzipMember = fn("gzip_member", GzipMember, "compress", BinaryType,
    Seq(BinaryType), returnNullable = false,
    "gzip_member(binary) - the input as one JDK gzip member")
  val deflateZlib = fn("deflate_zlib", DeflateZlib, "compress",
    BinaryType, Seq(BinaryType, IntegerType), returnNullable = false,
    "deflate_zlib(binary, level) - the JDK zlib stream at DEFLATE " +
      "level 0-9")
  val inflateZlib = fn("inflate_zlib", InflateZlib, "inflate",
    BinaryType, Seq(BinaryType), returnNullable = true,
    "inflate_zlib(binary) - the engine's own RFC 1950 decode; null " +
      "when malformed")
  val zstdFseCompress = fn("zstd_fse_compress", ZstdFseCompress,
    "compress", BinaryType, Seq(BinaryType, IntegerType),
    returnNullable = false,
    "zstd_fse_compress(binary, explicit_tables) - the engine's own " +
      "Zstandard FSE encoder")
  val zstdFseDecompress = fn("zstd_fse_decompress", ZstdFseDecompress,
    "decompress", BinaryType, Seq(BinaryType), returnNullable = true,
    "zstd_fse_decompress(binary) - the engine's own Zstandard decoder")
  val zstdFseDictDecompress = fn("zstd_fse_dict_decompress",
    ZstdFseDictDecompress, "decompress", BinaryType,
    Seq(BinaryType, BinaryType), returnNullable = true,
    "zstd_fse_dict_decompress(binary, dict) - Zstandard decode with a " +
      "raw-content or formatted dictionary")
  val zstdJniCompress = fn("zstd_jni_compress", ZstdJniCompress,
    "compress", BinaryType, Seq(BinaryType, IntegerType),
    returnNullable = false,
    "zstd_jni_compress(binary, level) - the reference libzstd encoder")
  val zstdJniDictCompress = fn("zstd_jni_dict_compress",
    ZstdJniDictCompress, "compress", BinaryType,
    Seq(BinaryType, BinaryType, IntegerType), returnNullable = false,
    "zstd_jni_dict_compress(binary, dict, level) - libzstd encode with " +
      "a dictionary")
  val zstdMultiFrame = fn("zstd_multi_frame", ZstdMultiFrame, "build",
    BinaryType, Seq(BinaryType, IntegerType), returnNullable = false,
    "zstd_multi_frame(binary, seed) - three FSE frames around a " +
      "skippable frame")
  val zstdSplitDecode = fn("zstd_split_decode", ZstdSplitDecode,
    "decode", BinaryType, Seq(BinaryType), returnNullable = true,
    "zstd_split_decode(binary) - decode of a multi-frame Zstandard " +
      "payload frame by frame")

  // ---- text and vectors -------------------------------------------
  val cdcBoundaries = fn("cdc_boundaries", CdcBoundaries, "kernel",
    ArrayType(LongType, containsNull = false), Seq(StringType),
    returnNullable = false,
    "cdc_boundaries(text) - content-defined chunk boundary positions " +
      "by one rolling-hash pass")
  val nfcNormalize = fn("nfc_normalize", NfcNormalize, "normalize",
    StringType, Seq(StringType), returnNullable = false,
    "nfc_normalize(text) - Unicode NFC normalization")
  val urlCanon = fn("url_canon", UrlCanon, "normalize", StringType,
    Seq(StringType), returnNullable = true,
    "url_canon(url) - RFC 3986 normalization of an absolute URL; null " +
      "without a scheme://authority")
  val wordNgrams = fn("word_ngrams", TextKernels, "wordNgrams",
    ArrayType(StringType), Seq(ArrayType(StringType), IntegerType),
    returnNullable = false,
    "word_ngrams(array<string>, n) - space-joined word n-grams; a " +
      "window with a null token is a null n-gram")
  val nearestCentroid = fn("nearest_centroid", VecUtil, "nearestCid",
    IntegerType, Seq(ArrayType(LongType), ArrayType(NativeFn.row(
      "cid" -> IntegerType, "cv" -> ArrayType(LongType)))),
    returnNullable = false,
    "nearest_centroid(array<bigint>, array<struct<cid, cv>>) - cid of " +
      "the centroid with the largest dot product; ties to the smallest")

  val all: Seq[NativeFn] = entries.result()
}
