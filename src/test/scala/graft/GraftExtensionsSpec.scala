package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NativeFunctions

/** The engine's native expressions are reachable from pure SQL via
  * SparkSessionExtensions (spark.sql.extensions=graft.GraftExtensions,
  * set in every session builder incl. TestSpark). */
class GraftExtensionsSpec extends AnyFunSuite {

  test("is_valid_iri works from SQL") {
    val rows = TestSpark.spark.sql(
      """SELECT is_valid_iri('http://x/y') AS a,
        |       is_valid_iri('not a uri') AS b,
        |       is_valid_iri(NULL) AS c""".stripMargin).collect().head
    assert(rows.getBoolean(0) && !rows.getBoolean(1) && !rows.getBoolean(2))
  }

  test("dot_product_l works from SQL") {
    val r = TestSpark.spark.sql(
      """SELECT dot_product_l(array(1L, 2L, 3L), array(4L, 5L, -6L)) AS ip"""
    ).collect().head
    assert(r.getLong(0) == 4L + 10L - 18L)
  }

  test("round-16 decode expressions work from SQL: mp3_bigvalues, " +
    "mp3_part3, h264_cavlc, vorbis_residue_apply, zstd_split_decode, " +
    "zstd_fse_dict_decompress, zstd_multi_frame, gzip_member, " +
    "flac_pcm_levels") {
    val s = TestSpark.spark
    import org.apache.spark.sql.functions.{col, lit}
    import s.implicits._
    // payloads built through the Scala API;
    // the decode side must resolve by NAME through spark.sql
    Seq(7L).toDF("doc_id")
      .withColumn("bv",
        NativeFunctions.mp3BigvaluesFixture(col("doc_id")))
      .withColumn("p3",
        NativeFunctions.mp3Part3Fixture(col("doc_id")))
      .withColumn("nal", lit(
        graft.multimodal.H264Fixture.annexBCavlc(7L)))
      .withColumn("ogg", lit(
        graft.multimodal.Vorbis.streamResidueApply(7L)))
      .withColumn("z", lit(graft.llm.ZstdFse.compress(
        "abc abc abc abc".getBytes, explicitTables = false)))
      .createOrReplaceTempView("r16")
    val r = s.sql(
      """SELECT mp3_bigvalues(bv).n_pairs AS a,
        |       mp3_part3(p3).n_quads AS b,
        |       h264_cavlc(nal).n_mbs AS c,
        |       vorbis_residue_apply(ogg).n_slots AS d,
        |       length(zstd_split_decode(z)) AS e,
        |       length(zstd_fse_dict_decompress(z, unhex('00'))) AS f,
        |       zstd_multi_frame(z, 0) IS NOT NULL AS g
        |FROM r16""".stripMargin).collect().head
    assert(r.getLong(0) >= 0L && r.getLong(1) >= 0L && r.getLong(2) > 0L)
    // a magic-less 1-byte dict is a RAW CONTENT dictionary; the
    // plain frame ignores it and decodes
    assert(r.getLong(3) > 0L && r.getInt(4) == 15 && r.getInt(5) == 15)
    assert(r.getBoolean(6))
    // the two earlier stragglers resolve too
    assert(s.sql("SELECT gzip_member(CAST(NULL AS BINARY)) IS NULL")
      .collect().head.getBoolean(0))
    assert(s.sql("SELECT flac_pcm_levels(CAST(NULL AS BINARY)) IS NULL")
      .collect().head.getBoolean(0))
  }

  test("nearest_centroid works from SQL: max ip, ties to smallest cid") {
    val r = TestSpark.spark.sql(
      """SELECT nearest_centroid(array(1L, 1L),
        |  array(struct(0 AS cid, array(1L, 0L) AS cv),
        |        struct(1 AS cid, array(0L, 1L) AS cv),
        |        struct(2 AS cid, array(1L, 1L) AS cv))) AS cid""".stripMargin
    ).collect().head
    assert(r.getInt(0) == 2)
    val tie = TestSpark.spark.sql(
      """SELECT nearest_centroid(array(1L, 0L),
        |  array(struct(0 AS cid, array(1L, 0L) AS cv),
        |        struct(1 AS cid, array(1L, 0L) AS cv))) AS cid""".stripMargin
    ).collect().head
    assert(tie.getInt(0) == 0)
  }

  test("dot_product_l raises on mismatched vector lengths") {
    val e = intercept[Exception] {
      TestSpark.spark.sql(
        "SELECT dot_product_l(array(1L, 2L), array(1L)) AS ip").collect()
    }
    assert(e.getMessage != null)
  }

  test("dot_product_l agrees with the interpreted lambda on real vectors") {
    val spark = TestSpark.spark
    val df = spark.sql(
      """SELECT transform(sequence(1, 64), i -> CAST(i * 7 - 200 AS BIGINT)) AS a,
        |       transform(sequence(1, 64), i -> CAST(300 - i * 11 AS BIGINT)) AS b"""
        .stripMargin)
    val r = df.selectExpr(
      "dot_product_l(a, b) AS fast",
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, p) -> acc + p) AS slow")
      .collect().head
    assert(r.getLong(0) == r.getLong(1))
  }

  test("the full codec/fingerprint expression family resolves and " +
      "decodes from pure SQL") {
    // one known G.711 byte each: ulaw 0x00 -> -32124, alaw 0x2A -> -32256
    val g = TestSpark.spark.sql(
      """SELECT
        |  audio_ulaw_levels(unhex(concat(
        |    '52494646', '3D000000', '57415645',
        |    '666D7420', '10000000', '0700', '0100', '401F0000',
        |    '401F0000', '0100', '0800', '64617461', '01000000',
        |    '00'))).peak AS up,
        |  audio_alaw_levels(unhex(concat(
        |    '52494646', '3D000000', '57415645',
        |    '666D7420', '10000000', '0600', '0100', '401F0000',
        |    '401F0000', '0100', '0800', '64617461', '01000000',
        |    '2A'))).peak AS ap""".stripMargin).collect().head
    assert(g.getInt(0) == 32124 && g.getInt(1) == 32256)
    // the rest of the family: resolution + null-on-garbage semantics
    val r = TestSpark.spark.sql(
      """SELECT audio_fp(unhex('00')) IS NULL AS a,
        |  dhash64(unhex('00')) IS NULL AS b,
        |  mp3_meta(unhex('00')) IS NULL AS c,
        |  mp3_vbr(unhex('00')) IS NULL AS d,
        |  h264_sps(unhex('00')) IS NULL AS e,
        |  h264_pcm_mbs(unhex('00')) IS NULL AS f,
        |  size(cdc_boundaries('abcdef')) >= 0 AS g""".stripMargin)
      .collect().head
    for (i <- 0 until 7) assert(r.getBoolean(i), s"col $i")
  }

  test("the entropy-decode / canonicalization wave resolves and " +
      "works from pure SQL") {
    val r = TestSpark.spark.sql(
      """SELECT
        |  nfc_normalize('café') AS n,
        |  url_canon('HTTP://Ex.COM:80/a/../b#f') AS u,
        |  CAST(inflate_zlib(deflate_zlib(
        |    encode('round trip', 'UTF-8'), 6)) AS STRING) AS z,
        |  vorbis_books(unhex('00')) IS NULL AS vb,
        |  vorbis_floor(unhex('00')) IS NULL AS vf,
        |  vorbis_vq(unhex('00')) IS NULL AS vq,
        |  vorbis_residue(unhex('00')) IS NULL AS vr,
        |  mp4_samples(unhex('00')) IS NULL AS m4,
        |  zstd_frames(unhex('00')) IS NULL AS zs,
        |  CAST(zstd_fse_decompress(zstd_fse_compress(
        |    encode('fse trip', 'UTF-8'), 1)) AS STRING) = 'fse trip'
        |    AS zf""".stripMargin)
      .collect().head
    assert(r.getString(0) == "café")
    assert(r.getString(1) == "http://ex.com/b")
    assert(r.getString(2) == "round trip")
    for (i <- 3 until 10) assert(r.getBoolean(i), s"col $i")
  }
}
