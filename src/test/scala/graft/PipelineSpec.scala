package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.rdf.{Turtle, Vocab}
import Vocab._

/** End-to-end pipeline test (SURVEY §5 item 4): EP1→EP2 with stubbed
  * fetches — paginated export, cleaning, best-effort enrichment,
  * rename, delete — asserting the exact final triple set. */
class PipelineSpec extends AnyFunSuite {

  private val nul: String = null

  private val page1 =
    """@prefix dcterms: <http://purl.org/dc/terms/> .
      |@prefix ceo: <https://linkeddata.cultureelerfgoed.nl/def/ceo#> .
      |@prefix o: <http://omeka.org/s/vocabs/o#> .
      |<http://x/1> dcterms:title "Fresco"@nl .
      |<http://x/1> ceo:rijksmonumentnummer "RM12" .
      |<http://x/1> o:is_public "true" .
      |<@context> dcterms:title "json-ld leak" .
      |""".stripMargin

  private val page2 =
    """@prefix dcterms: <http://purl.org/dc/terms/> .
      |@prefix ceo: <https://linkeddata.cultureelerfgoed.nl/def/ceo#> .
      |<http://x/2> dcterms:title "Two"@nl .
      |<http://x/2> ceo:rijksmonumentnummer "34" .
      |<http://x/2> dcterms:relation <http://bad uri/x> .
      |""".stripMargin

  private val env = Map(
    "MAP_DCTERMS_TITLE" -> "SDO.name",
    "FILTER_O_ISPUBLIC" -> "http://omeka.org/s/vocabs/o#is_public")

  test("EP1→EP2 end-to-end with stubbed fetches") {
    val spark = TestSpark.spark
    val fetchedKeys = spark.sparkContext.collectionAccumulator[String]("keys")
    val p1 = page1; val p2 = page2 // locals: keep the spec out of closures
    val result = Pipeline.run(
      spark,
      fetchPage = p => Seq(p1, p2).lift(p - 1).getOrElse(""),
      fetchMonument = { key =>
        fetchedKeys.add(key)
        key match {
          case "12" => Seq(("default", "http://x/1", "iri",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "https://linkeddata.cultureelerfgoed.nl/def/ceo#Rijksmonument",
            "iri", null, null))
          case _ => throw new RuntimeException("503") // best-effort skip
        }
      },
      env = env)

    assert(result.conf.warnings.isEmpty)
    val got = result.triples.collect().map(r =>
      (r.getString(1), r.getString(3), r.getString(4), r.getString(5),
        r.getString(6))).toSet
    assert(got == Set(
      // renamed titles (O17), leak/invalid rows cleaned (O4/O7),
      // is_public deleted (O18)
      ("http://x/1", SdoName, "Fresco", "literal", "nl"),
      ("http://x/2", SdoName, "Two", "literal", "nl"),
      ("http://x/1", CeoRijksmonumentnummer, "RM12", "literal", nul),
      ("http://x/2", CeoRijksmonumentnummer, "34", "literal", nul),
      // enrichment typed x/1 (fetch for key 34 failed → skipped)
      ("http://x/1", RdfType, CeoRijksmonument, "iri", nul),
      // derived sameAs only for the typed subject (O16)
      ("http://x/1", SdoSameAs, "RM12", "literal", nul)))
    // keys were normalized (RM stripped) and deduplicated (O14)
    import scala.jdk.CollectionConverters._
    assert(fetchedKeys.value.asScala.toSet == Set("12", "34"))
  }

  test("pipeline sink round-trips through the Turtle codec") {
    val result = Pipeline.run(
      TestSpark.spark,
      fetchPage = p => if (p == 1) page1 else "",
      fetchMonument = _ => Seq.empty,
      env = env)
    val spark = TestSpark.spark
    import spark.implicits._
    val doc = Turtle.serializeDocuments(result.triples.coalesce(1))
      .collect().mkString("\n")
    val back = Turtle.parse(spark.createDataset(Seq(doc)))
    assert(back.collect().toSet == result.triples.collect().toSet)
  }

  test("fetch → transform → publish → re-read, with O8 prefixes bound") {
    val spark = TestSpark.spark
    val apiContext =
      """{"@context": {
        |  "fetched": "http:\\/\\/fetched.example\\/ns#",
        |  "sdo": "https://schema.org/"}}""".stripMargin
    val result = Pipeline.run(
      spark,
      fetchPage = p => if (p == 1) page1 else "",
      fetchMonument = _ => Seq.empty,
      env = env,
      fetchApiContext = Some(() => apiContext))
    // O8: fetched bindings land in Result.prefixes (over the statics)
    assert(result.prefixes("fetched") == "http://fetched.example/ns#")
    assert(result.prefixes("sdo") == "https://schema.org/")

    // Turtle publish: overwrite sink, fetched prefixes in the headers
    val tdir = java.nio.file.Files.createTempDirectory("pub-ttl").toFile
    Pipeline.publish(result, tdir.getAbsolutePath, format = "turtle",
      singleFile = true)
    val ttlFiles = tdir.listFiles.filter(_.getName.endsWith(".ttl"))
    assert(ttlFiles.length == 1)
    assert(java.nio.file.Files.readString(ttlFiles.head.toPath)
      .contains("@prefix fetched: <http://fetched.example/ns#> ."))
    val backTtl = spark.read.format("turtle").load(tdir.getAbsolutePath)
    assert(backTtl.collect().toSet == result.triples.collect().toSet)

    // parquet publish: the cluster-scale table, overwrite semantics
    val pdir = java.nio.file.Files.createTempDirectory("pub-pq").toFile
    Pipeline.publish(result, pdir.getAbsolutePath, format = "parquet")
    Pipeline.publish(result, pdir.getAbsolutePath, format = "parquet")
    val backPq = spark.read.parquet(pdir.getAbsolutePath)
    assert(backPq.collect().toSet == result.triples.collect().toSet)
  }

  test("set semantics after rename: a renamed predicate that collides " +
    "with an existing triple publishes one row, batch and incremental") {
    val spark = TestSpark.spark
    import spark.implicits._
    val page =
      """@prefix dcterms: <http://purl.org/dc/terms/> .
        |@prefix sdo: <https://schema.org/> .
        |<http://x/9> dcterms:title "X" .
        |<http://x/9> sdo:name "X" .
        |<http://x/9> sdo:name "Y" .
        |""".stripMargin
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.select("predicate", "obj_value").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val expected = Seq((SdoName, "X"), (SdoName, "Y"))
    val batch = Pipeline.run(spark,
      fetchPage = p => if (p == 1) page else "",
      fetchMonument = _ => Seq.empty, env = env)
    assert(rows(batch.triples) == expected)
    val incremental = Pipeline.runIncremental(spark,
      fetchPage = p => if (p == 1) page else "",
      fetchMonument = _ => Seq.empty, env = env,
      storedSnapshot = TestSpark.triples(Seq.empty),
      ledger = Seq.empty[(String, Int)].toDF("monument_key", "age_days"))
    assert(rows(incremental.triples) == expected)
  }
}

