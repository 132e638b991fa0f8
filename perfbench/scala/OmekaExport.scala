package perfbench

import scala.util.Random
import scala.util.hashing.MurmurHash3

import graft.rdf.Turtle.FlatTriple
import graft.rdf.Vocab._

/** A seeded Omeka-S-shaped export for the weekly ETL, with the dirty
  * data the reference's cleaning pass removes, and the truth the
  * benchmark checks the engine's output against.
  *
  * Week 0 fills all 99 pages the export loop reads (100 items a page,
  * the last one half full). Each later week edits 3 %, adds 1 % and
  * removes 1 % of the items. Per item, independently:
  *  - 2 % have an `@context` subject and 2 % an invalid subject IRI
  *    (every triple of the item is dropped);
  *  - 2 % relate to an object IRI with a space and 2 % to an
  *    `@context` object (that triple is dropped);
  *  - 20 % carry a customvocab object (dropped by the anti-join);
  *  - a third carry a rijksmonumentnummer, half of them `RM`-prefixed,
  *    and half of those are typed `ceo:Rijksmonument` in the export;
  *  - `o:is_public` always, `o:resource_template` for 1 in 7 and
  *    `o:resource_class` for 1 in 5 (all three deleted by FILTER).
  */
object OmekaExport {
  val Site = "https://muurschilderingendatabase.nl/"
  val ItemNs: String = Site + "api/items/"
  val CvNs: String = Site + "api/customvocab/"
  val MonNs = "https://monumenten.example.org/monument/"
  val CustomVocabClass = "http://omeka.org/s/vocabs/o#customvocab"
  val Items = 9850
  val Weeks = 4 // incremental weeks after the batch week 0
  val CvTerms = 13
  val KeyBase = 100000
  val FailPerMille = 10
  val TtlDays = 14
  val ElapsedDays = 7

  /** subject: 0 clean, 1 `@context`, 2 invalid IRI; relation: 0 valid,
    * 1 IRI with a space, 2 `@context` object; rm: Some(prefixed). */
  final case class Item(id: Int, subject: Int, version: Int, relation: Int,
      style: Option[Int], rm: Option[Boolean], typed: Boolean,
      public: Boolean, template: Option[Int], cls: Option[Int]) {
    def clean: Boolean = subject == 0
    def key: Option[String] = rm.map(_ => (KeyBase + id).toString)
  }

  def itemIri(id: Int): String = ItemNs + id

  def fails(seed: Long, key: String): Boolean =
    Math.floorMod(MurmurHash3.stringHash(s"$seed/$key"), 1000) < FailPerMille

  /** The in-process monument service: deterministic per key, throwing
    * for about 1 % of keys. */
  final case class MonumentFetcher(seed: Long) extends (String => Seq[FlatTriple]) {
    def apply(key: String): Seq[FlatTriple] = {
      if (fails(seed, key)) throw new java.io.IOException(s"monument $key: 503")
      monumentRows(key)
    }
  }

  def monumentRows(key: String): Seq[FlatTriple] = {
    val mon = MonNs + key
    Seq(("default", mon, "iri", RdfType, CeoRijksmonument, "iri", null, null),
      ("default", mon, "iri", DctermsIdentifier, key, "literal", null, null),
      ("default", itemIri(key.toInt - KeyBase), "iri", RdfType,
        CeoRijksmonument, "iri", null, null))
  }

  private def newItem(id: Int, r: Random): Item = {
    def pick(p: Double) = r.nextDouble() < p
    val subject = r.nextDouble() match {
      case x if x < 0.02 => 1
      case x if x < 0.04 => 2
      case _ => 0
    }
    val relation = r.nextDouble() match {
      case x if x < 0.02 => 1
      case x if x < 0.04 => 2
      case _ => 0
    }
    val style = if (pick(0.2)) Some(r.nextInt(CvTerms)) else None
    val rm = if (pick(1.0 / 3)) Some(r.nextBoolean()) else None
    Item(id, subject, 0, relation, style, rm, rm.isDefined && r.nextBoolean(),
      r.nextBoolean(), if (pick(1.0 / 7)) Some(r.nextInt(4)) else None,
      if (pick(0.2)) Some(r.nextInt(20)) else None)
  }

  /** Item sets for weeks 0..Weeks. */
  def weeks(seed: Long): IndexedSeq[IndexedSeq[Item]] = {
    val r = new Random(seed)
    val week0 = (1 to Items).map(newItem(_, r))
    (1 to Weeks).scanLeft(week0) { (items, _) =>
      val n = items.size
      val picked = r.shuffle(items.indices.toVector)
      val (edit, rest) = picked.splitAt(math.round(n * 0.03).toInt)
      val remove = rest.take(math.round(n * 0.01).toInt).toSet
      val edits = edit.toSet
      val kept = items.indices.filterNot(remove).map { i =>
        val it = items(i)
        if (edits(i)) it.copy(version = it.version + 1, public = !it.public)
        else it
      }
      val next = items.map(_.id).max + 1
      kept ++ (0 until math.round(n * 0.01).toInt).map(j => newItem(next + j, r))
    }.toIndexedSeq
  }

  private val Header =
    """@prefix dcterms: <http://purl.org/dc/terms/> .
      |@prefix ceo: <https://linkeddata.cultureelerfgoed.nl/def/ceo#> .
      |@prefix o: <http://omeka.org/s/vocabs/o#> .
      |@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |@prefix def: <http://ex.org/def#> .
      |""".stripMargin

  /** Turtle pages of 100 items, in id order; page 1 also declares the
    * customvocab terms. */
  def pages(items: IndexedSeq[Item]): IndexedSeq[String] =
    items.sortBy(_.id).grouped(graft.sources.OmekaSource.PerPage).zipWithIndex
      .map { case (page, p) =>
        val sb = new StringBuilder(Header)
        if (p == 0) (0 until CvTerms).foreach { k =>
          sb ++= s"<$CvNs$k> rdf:type <$CustomVocabClass> .\n"
        }
        page.foreach(it => render(it, sb))
        sb.toString
      }.toIndexedSeq

  private def render(it: Item, sb: StringBuilder): Unit = {
    val id = it.id
    val s = it.subject match {
      case 0 => s"<${itemIri(id)}>"
      case 1 => s"<${Site}api/@context/items/$id>"
      case _ => s"<not a uri $id>"
    }
    sb ++= s"""$s dcterms:title "Muurschildering $id (v${it.version})"@nl .\n"""
    sb ++= s"""$s dcterms:created "20${10 + id % 10}-0${1 + id % 9}-1${id % 10}"^^xsd:date .\n"""
    val rel = it.relation match {
      case 0 => itemIri(id + 1)
      case 1 => s"http://bad uri/$id"
      case _ => s"${Site}api/@context/rel/$id"
    }
    sb ++= s"$s dcterms:relation <$rel> .\n"
    it.style.foreach(k => sb ++= s"$s def:style <$CvNs$k> .\n")
    it.rm.foreach { prefixed =>
      val n = KeyBase + id
      sb ++= s"""$s ceo:rijksmonumentnummer "${if (prefixed) "RM" else ""}$n" .\n"""
    }
    if (it.typed) sb ++= s"$s rdf:type ceo:Rijksmonument .\n"
    sb ++= s"""$s o:is_public "${it.public}"^^xsd:boolean .\n"""
    it.template.foreach(t => sb ++= s"$s o:resource_template <${Site}api/resource_templates/$t> .\n")
    it.cls.foreach(c => sb ++= s"$s o:resource_class <${Site}api/resource_classes/$c> .\n")
  }

  /** What a batch run publishes for `items`: the triple count and the
    * subjects that gain an `sdo:sameAs`. */
  final case class Truth(triples: Long, enriched: Set[String], keys: Set[String])

  def truth(seed: Long, items: IndexedSeq[Item]): Truth = {
    var n = CvTerms.toLong // the customvocab declarations survive
    val enriched = Set.newBuilder[String]
    val keys = Set.newBuilder[String]
    items.filter(_.clean).foreach { it =>
      n += 2 // sdo:name (renamed title) and dcterms:created
      if (it.relation == 0) n += 1
      if (it.typed) n += 1
      it.key.foreach { k =>
        keys += k
        n += 1 // the rijksmonumentnummer itself
        val ok = !fails(seed, k)
        // the fetched item typing duplicates an exported one
        if (ok) n += (if (it.typed) 2 else 3)
        if (ok || it.typed) { n += 1; enriched += itemIri(it.id) }
      }
    }
    Truth(n, enriched.result(), keys.result())
  }

  /** The incremental enrichment state the engine keeps between weeks,
    * replayed: the fetch ledger (key → age in days) and the keys whose
    * rows are in the stored snapshot. */
  final case class IncState(ledger: Map[String, Int], stored: Set[String]) {
    /** One week: (next state, keys fetched, keys failed). */
    def step(seed: Long, keys: Set[String]): (IncState, Set[String], Set[String]) = {
      val aged = ledger.map { case (k, a) => k -> (a + ElapsedDays) }
      val fetch = keys.filter(k => aged.get(k).forall(_ >= TtlDays))
      val failed = fetch.filter(fails(seed, _))
      (IncState(aged ++ fetch.map(_ -> 0), stored ++ (fetch -- failed)), fetch, failed)
    }
  }

  /** The state before week 1: every week-0 key stored unless its fetch
    * fails, with ledger ages spread over 0 until twice the weekly gap,
    * so each week about half of the stored keys pass their TTL. */
  def initialState(seed: Long, keys: Set[String]): IncState = {
    val r = new Random(seed ^ 0x5eedL)
    IncState(keys.toSeq.sorted.map(_ -> r.nextInt(TtlDays)).toMap,
      keys.filterNot(fails(seed, _)))
  }
}
