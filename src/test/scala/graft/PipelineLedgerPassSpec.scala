package graft

import java.nio.file.Files

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.rdf.RdfOps
import graft.rdf.Vocab._

/** [[Pipeline.runIncremental]]'s keyed ledger pass
  * ([[RdfOps.enrichmentLedgerPass]]): the fetch list, the next ledger
  * and the [[Pipeline.FetchMetrics]] equal a plain-Scala reference
  * over generated ledgers, and a ledger chained through many weekly
  * runs costs every run the same plan and the same jobs. */
class PipelineLedgerPassSpec extends AnyFunSuite {
  import PipelineLedgerPassSpec._

  private val Mon = "https://monumenten.example.org/monument/"

  private def page(keys: Seq[String]): String =
    ("@prefix ceo: <https://linkeddata.cultureelerfgoed.nl/def/ceo#> ." +:
      keys.map(k => s"""<http://x/$k> ceo:rijksmonumentnummer "RM$k" .""")
    ).mkString("\n")

  private def fetcher(fail: Set[String]): String => Seq[rdf.Turtle.FlatTriple] = {
    val mon = Mon
    key =>
      if (fail.contains(key)) throw new RuntimeException(s"upstream 500 for $key")
      Seq(("default", mon + key, "iri", DctermsTitle, s"T$key", "literal",
        null, null))
  }

  /** The reference: a key is missing when the ledger never saw it,
    * stale when its oldest aged fetch is at least the TTL (a null age
    * is never stale); every key on either side is a next-ledger key,
    * attempted keys at age 0, the rest at their oldest aged age. */
  private def reference(w: Week): (Set[(String, String)],
      Set[(String, Option[Int])], Pipeline.FetchMetrics) = {
    val ledgerKeys = w.ledger.map(_._1).toSet
    val oldest = w.ledger.groupBy(_._1).map { case (k, rows) =>
      k -> rows.flatMap(_._2).map(_ + w.elapsed).maxOption
    }
    val fetchList = w.export.flatMap { k =>
      if (!ledgerKeys(k)) Some(k -> RdfOps.Missing)
      else if (oldest(k).exists(_ >= Ttl)) Some(k -> RdfOps.Stale)
      else None
    }.toSet
    val attempted = fetchList.map(_._1)
    val next = (w.export.toSet ++ ledgerKeys).map { k =>
      k -> (if (attempted(k)) Some(0) else oldest.getOrElse(k, None))
    }
    val failed = (attempted & w.fail).size.toLong
    (fetchList, next, Pipeline.FetchMetrics(w.export.size.toLong,
      attempted.size.toLong, w.export.size.toLong - attempted.size,
      attempted.size - failed, failed))
  }

  private def ledgerDf(rows: Seq[(String, Option[Int])]): DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    rows.toDF("monument_key", "age_days")
  }

  private def pairs(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("fetch list, next ledger and metrics equal the reference over " +
    "generated ledgers") {
    val spark = TestSpark.spark
    import spark.implicits._
    val weeks = Iterator.iterate(Seed(20261018L))(_.next)
      .map(s => weekGen.apply(Gen.Parameters.default.withSize(10), s))
      .flatten.take(12).toSeq
    // the generator reaches every edge case the pass must handle
    assert(weeks.exists(_.ledger.exists(_._2.isEmpty)))
    assert(weeks.exists(w => w.ledger.exists(_._2.contains(Ttl - w.elapsed))))
    assert(weeks.exists(w => w.ledger.map(_._1).distinct.size < w.ledger.size))
    assert(weeks.exists(w => w.ledger.exists(l => !w.export.contains(l._1))))
    weeks.foreach { w =>
      val (fetchList, next, metrics) = reference(w)
      val clue = s"week $w"
      val direct = RdfOps.enrichmentFetchList(
        w.export.toDF("monument_key"),
        ledgerDf(w.ledger.map { case (k, a) => (k, a.map(_ + w.elapsed)) }), Ttl)
      assert(pairs(direct) == fetchList, clue)
      val p = page(w.export)
      val r = Pipeline.runIncremental(spark,
        fetchPage = n => if (n == 1) p else "",
        fetchMonument = fetcher(w.fail), env = Map.empty,
        storedSnapshot = TestSpark.triples(Seq.empty),
        ledger = ledgerDf(w.ledger), ttlDays = Ttl, elapsedDays = w.elapsed)
      assert(pairs(r.fetchList) == fetchList, clue)
      val gotNext = r.ledger.collect().toSeq.map(row =>
        (row.getString(0), Option(row.get(1)).map(_.asInstanceOf[Int])))
      // one row per key, and exactly the reference's rows
      assert(gotNext.size == next.size && gotNext.toSet == next, clue)
      assert(r.metrics == metrics, clue)
    }
  }

  test("a ledger chained through 8 weekly runs keeps the same plan " +
    "size and the same job count per week") {
    val spark = TestSpark.spark
    import spark.implicits._
    val keys = (1 to 6).map(_.toString)
    val p = page(keys)
    val dir = Files.createTempDirectory("ledger-chain").toFile.getAbsolutePath
    val group = "ledger-chain"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      var snapshot = TestSpark.triples(Seq.empty)
      var ledger = keys.take(3).map(k => (k, 0)).toDF("monument_key", "age_days")
      // elapsed = TTL: every key is stale every week, so the weeks
      // from the second on process the same data
      val perWeek = (1 to 8).map { week =>
        TestListenerBus.drain(spark.sparkContext)
        jobs.set(0)
        spark.sparkContext.setJobGroup(group, s"week $week")
        try {
          val r = Pipeline.runIncremental(spark,
            fetchPage = n => if (n == 1) p else "",
            fetchMonument = fetcher(Set.empty), env = Map.empty,
            storedSnapshot = snapshot, ledger = ledger,
            ttlDays = Ttl, elapsedDays = Ttl)
          Pipeline.publishDelta(Pipeline.Result(r.triples, r.conf, r.prefixes),
            s"$dir/snapshot", s"$dir/changes", f"w$week%02d")
          snapshot = r.snapshot
          ledger = r.ledger
          assert(r.metrics.attempted == keys.size)
        } finally spark.sparkContext.clearJobGroup()
        TestListenerBus.drain(spark.sparkContext)
        (ledger.queryExecution.analyzed.collectLeaves().size, jobs.get())
      }
      assert(perWeek(1)._2 > 0)
      assert(perWeek(1) == perWeek(7), s"(leaves, jobs) per week: $perWeek")
      assert(ledger.collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
        keys.map(k => (k, 0)).toSet)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object PipelineLedgerPassSpec {
  val Ttl = 7

  /** One generated week: distinct export keys, a ledger with
    * duplicated keys, null ages, ages landing exactly on the TTL after
    * aging and keys outside the export, and keys whose fetch fails. */
  final case class Week(export: Seq[String],
      ledger: Seq[(String, Option[Int])], elapsed: Int, fail: Set[String])

  val weekGen: Gen[Week] = {
    val key = Gen.choose(1, 12).map(_.toString)
    for {
      export <- Gen.containerOf[Set, String](key).map(_.toSeq.sorted)
      elapsed <- Gen.oneOf(0, 3, Ttl)
      age = Gen.frequency(1 -> Gen.const(None),
        2 -> Gen.const(Some(Ttl - elapsed)),
        4 -> Gen.choose(0, 12).map(Some(_)))
      ledger <- Gen.listOf(Gen.zip(key, age))
      fail <- Gen.containerOf[Set, String](key)
    } yield Week(export, ledger, elapsed, fail)
  }
}
