package graft.functions

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.Files
import javax.imageio.ImageIO

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every [[NativeFunctions]] entry, checked one by one. `StaticInvoke`
  * looks its method up only when the plan runs, so a misspelled
  * method, a wrong argument type or a wrong result type must fail
  * here rather than in a query.
  *
  * Inputs are the payloads the oracle-checked queries build (their
  * fixtures and hex builders over a documents table), captured from
  * each query's analyzed plan, plus junk and null payloads for the
  * fail-closed path. */
class NativeFunctionsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** A documents table in the tables' schema (doc_id, text, lang,
    * source, n_chars); the captured queries derive every payload from
    * these columns. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("native-fns").toFile.getAbsolutePath
    spark.range(0, 96).select(col("id").as("doc_id"),
        expr("concat('Doc ', id, ': ', repeat('the quick brown fox " +
          "jumps over the lazy dog, café déjà vu. ', CAST(id % 5 + 1 " +
          "AS INT)))").as("text"),
        expr("element_at(array('en', 'nl', 'de'), CAST(id % 3 + 1 AS INT))")
          .as("lang"),
        expr("element_at(array('web', 'books', 'wiki', 'code'), " +
          "CAST(id % 4 + 1 AS INT))").as("source"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  /** The SQL names registered before the table existed; each must
    * keep resolving. */
  private val registeredBefore = Seq("is_valid_iri", "deflate_ratio",
    "dot_product_l", "nearest_centroid", "vec_sum_l", "top_k_l",
    "top_k_ls", "word_ngrams", "image_dims", "audio_meta", "warc_records",
    "flac_tags", "id3_tags", "exif_meta", "image_levels", "audio_levels",
    "video_meta", "png_levels", "jpeg_luma", "luma_cells", "audio_fp",
    "audio_ulaw_levels", "audio_alaw_levels", "dhash64", "mp3_meta",
    "mp3_vbr", "mp3_side_info", "mp3_count1", "h264_sps", "h264_pcm_mbs",
    "cdc_boundaries", "nfc_normalize", "url_canon", "inflate_zlib",
    "deflate_zlib", "vorbis_books", "vorbis_floor", "vorbis_floor_curve",
    "vorbis_vq", "vorbis_residue", "mp4_samples", "zstd_frames",
    "zstd_fse_compress", "zstd_fse_decompress", "zstd_fse_dict_decompress",
    "zstd_multi_frame", "zstd_split_decode", "gzip_member",
    "flac_pcm_levels", "mp3_bigvalues", "mp3_part3", "h264_cavlc",
    "vorbis_residue_apply", "vorbis_residue_scale", "h264_cavlc_luma",
    "h264_cavlc_full", "h264_cavlc_ac", "h264_cavlc_mb")

  /** Queries whose plans call the table's functions. */
  private val queries = Seq("mm_image_dims", "mm_gif_dims", "mm_webp_dims",
    "mm_tiff_dims", "mm_exif_meta", "mm_audio_meta", "mm_flac_meta",
    "mm_ogg_meta", "mm_flac_pcm", "mm_flac_fixed", "mm_flac_lpc",
    "mm_flac_stereo", "mm_flac_wasted", "mm_flac_tags", "mm_ogg_tags",
    "mm_vorbis_books", "mm_vorbis_vq", "mm_vorbis_floor",
    "mm_vorbis_floor_curve", "mm_vorbis_residue", "mm_vorbis_residue_apply",
    "mm_vorbis_residue_scale", "mm_mp4_samples", "mm_zstd_frames",
    "mm_audio_levels", "mm_audio_ulaw", "mm_audio_alaw", "mm_audio_fp",
    "mm_image_levels", "mm_video_meta", "mm_avi_meta", "mm_png_levels",
    "mm_jpeg_luma", "mm_dhash", "mm_image_features", "mm_mp3_meta",
    "mm_mp3_vbr", "mm_mp3_sideinfo", "mm_mp3_count1", "mm_mp3_count1a",
    "mm_mp3_bigvalues", "mm_mp3_part3", "mm_h264_cavlc",
    "mm_h264_cavlc_luma", "mm_h264_cavlc_full", "mm_h264_cavlc_ac",
    "mm_h264_cavlc_mb", "mm_id3_tags", "mm_id3_v22", "mm_h264_sps",
    "mm_h264_pcm", "llm_url_canon", "llm_inflate", "llm_zstd_fse",
    "llm_zstd_real", "llm_zstd_dict", "llm_zstd_split",
    "llm_text_normalize", "llm_warc_records", "llm_warc_gz",
    "llm_cdc_chunks")

  private val RowsPerQuery = 24

  private def calls(e: Expression): Seq[NativeCall] =
    e.collect { case c: NativeCall => c }

  /** The arguments one query passes to `fn`, evaluated over the plan
    * node's child: one column per argument, `a0`, `a1`, ... */
  private def argsIn(plan: LogicalPlan, fn: NativeFn): Option[DataFrame] =
    plan.collectFirst {
      case p if p.children.size == 1 &&
          p.expressions.exists(e => calls(e).exists(_.fn == fn)) =>
        val call = p.expressions.flatMap(calls).find(_.fn == fn).get
        val cols = call.children.zipWithIndex.map { case (c, i) =>
          Alias(c, s"a$i")() }
        PlanBridge.ofRows(spark, Project(cols, p.children.head))
          .limit(RowsPerQuery)
    }

  /** Literal arguments of the right types, as SQL. */
  private def literal(t: DataType): String = t match {
    case BinaryType => "X'00'"
    case LongType => "1L"
    case IntegerType => "1"
    case StringType => "'a'"
    case ArrayType(StringType, _) => "array('a', 'b')"
    case ArrayType(LongType, _) => "array(1L)"
    case ArrayType(s: StructType, _) => "array(named_struct(" +
      s.fields.map(f => s"'${f.name}', ${literal(f.dataType)}")
        .mkString(", ") + "))"
  }

  private def junk(t: DataType): Seq[Any] = t match {
    case BinaryType => Seq(Array.emptyByteArray, Array[Byte](0, 1, 2, 3),
      Array.tabulate[Byte](64)(i => (i * 37).toByte))
    case StringType => Seq("", "ascii only", "é é ß",
      "HTTP://Host:80/a/./b/../c?q=%7e#frag", "no scheme")
    case _ => Nil
  }

  /** Gray PNGs large enough for the 9x8 dHash and 4x4 cell grids (the
    * queries that use those two decoders read memoized checkpoints,
    * whose plans no longer show the call). */
  private def grayPngs: Seq[Array[Byte]] =
    Seq((16, 12), (9, 8), (33, 20)).map { case (w, h) =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, (x * 37 + y * 11) & 0xff)
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }

  /** Captured query arguments of every entry, plus junk and nulls. */
  private lazy val inputs: Map[String, DataFrame] = {
    val plans = queries.map(q =>
      graft.SparkEntry.queries(q)(spark, dir).queryExecution.analyzed)
    val s = spark
    import s.implicits._
    val extra: Map[String, DataFrame] = Map(
      "word_ngrams" -> spark.read.parquet(s"$dir/documents.parquet")
        .limit(RowsPerQuery)
        .select(split(col("text"), " ").as("a0"), lit(3).as("a1"))
        .union(spark.sql("SELECT array('a', NULL, 'c', 'd') AS a0, 2 AS a1")),
      "nearest_centroid" -> spark.sql(
        """SELECT a0, array(struct(0 AS cid, array(1L, 0L) AS cv),
          |  struct(1 AS cid, array(0L, 1L) AS cv),
          |  struct(2 AS cid, array(1L, 1L) AS cv)) AS a1
          |FROM VALUES (array(1L, 1L)), (array(5L, -2L)), (array(0L, 0L)),
          |  (CAST(NULL AS array<bigint>)) t(a0)""".stripMargin),
      "dhash64" -> grayPngs.map(Tuple1(_)).toDF("a0"),
      "luma_cells" -> grayPngs.map(Tuple1(_)).toDF("a0"),
      "deflate_zlib" -> Seq(("abc abc abc".getBytes, 0), ("x".getBytes, 9))
        .toDF("a0", "a1"))
    NativeFunctions.all.map { fn =>
      val captured = plans.flatMap(argsIn(_, fn)) ++ extra.get(fn.name)
      assert(captured.nonEmpty, s"${fn.name}: no query calls it")
      val schema = StructType(
        captured.head.schema.map(_.copy(nullable = true)))
      val odd = fn.inputTypes.indices.flatMap { i =>
        val vals = junk(fn.inputTypes(i)) :+ null
        vals.map(v => Row.fromSeq(schema.indices.map(j =>
          if (j == i) v else if (fn.inputTypes(j) == IntegerType) 1
          else if (fn.inputTypes(j) == LongType) 1L else null)))
      }
      val all = (captured :+ spark.createDataFrame(
        spark.sparkContext.parallelize(odd), schema)).reduce(_ union _)
      fn.name -> all.localCheckpoint()
    }.toMap
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val codegenOnly = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.adaptive.enabled" -> "false")
  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def applied(fn: NativeFn): DataFrame = {
    val in = inputs(fn.name)
    in.select(fn(in.columns.map(col).toIndexedSeq: _*).as("r"))
  }

  test("every entry has its own SQL name and every name registered " +
    "before the table still resolves") {
    val names = NativeFunctions.all.map(_.name)
    assert(names.distinct.size == names.size)
    (registeredBefore ++ names).foreach(n =>
      assert(spark.catalog.functionExists(n), s"$n does not resolve"))
  }

  test("every entry resolves by SQL name and DESCRIBE FUNCTION shows " +
    "its usage") {
    NativeFunctions.all.foreach { fn =>
      val args = fn.inputTypes.map(literal).mkString(", ")
      val df = spark.sql(s"SELECT ${fn.name}($args) AS r")
      assert(df.schema("r").dataType == fn.dataType, fn.name)
      val described = spark.sql(s"DESCRIBE FUNCTION ${fn.name}")
        .collect().map(_.getString(0)).mkString("\n")
      assert(described.contains(fn.usage), described)
    }
  }

  test("a wrong-typed argument or a wrong argument count is rejected " +
    "at analysis") {
    NativeFunctions.all.foreach { fn =>
      val good = fn.inputTypes.map(literal)
      val wrong = if (fn.inputTypes.head == StringType) "1" else "'x'"
      val bad = Seq((wrong +: good.tail).mkString(", "),
        (good :+ good.head).mkString(", "))
      bad.foreach { args =>
        intercept[AnalysisException](
          spark.sql(s"SELECT ${fn.name}($args)").queryExecution
            .assertAnalyzed())
      }
    }
  }

  test("every entry runs as one static call inside whole-stage codegen " +
    "and agrees row for row with interpreted evaluation") {
    NativeFunctions.all.foreach { fn =>
      val compiled = withConf(codegenOnly: _*) {
        val df = applied(fn)
        val stages = df.queryExecution.executedPlan.collect {
          case w: WholeStageCodegenExec => w }
        assert(stages.exists(_.child.expressions.exists(_.exists {
          case i: StaticInvoke => i.functionName == fn.method
          case _ => false
        })), s"${fn.name}: not inside whole-stage codegen\n" +
          df.queryExecution.executedPlan)
        df.collect().toSeq
      }
      val evaluated = withConf(interpreted: _*)(applied(fn).collect().toSeq)
      assert(compiled == evaluated, fn.name)
      assert(compiled.exists(!_.isNullAt(0)), s"${fn.name}: all null")
    }
  }
}
