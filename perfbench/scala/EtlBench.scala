package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Pipeline
import graft.config.EtlConf
import graft.rdf.{Enrichment, RdfOps, RdfQueries, Vocab}
import graft.rdf.Vocab._
import graft.sources.OmekaSource

/** The reference's weekly job, once per run as the real job runs
  * once per process: week 0 is `Pipeline.run`, a single-file Turtle
  * publish and `publishDelta`; weeks 1..K are `Pipeline.runIncremental`
  * and `publishDelta`. After each week (untimed) the published output
  * is checked against the generator's truth. */
object EtlBench {
  /** The reference workflow's MAP_/FILTER environment. */
  val Env: Map[String, String] = Map(
    "MAP_DCTERMS_TITLE" -> "SDO.name",
    "FILTER_ISPUBLIC" -> OmekaIsPublic,
    "FILTER_RESOURCECLASS" -> OmekaResourceClass,
    "FILTER_RESOURCETEMPLATE" -> OmekaResourceTemplate)

  private val Cols = Seq("graph", "subject", "subject_kind", "predicate",
    "obj_value", "obj_kind", "obj_lang", "obj_datatype")

  final case class Check(name: String, ok: Boolean, detail: String) {
    def json: Map[String, Any] = Json.obj("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  def run(spark: SparkSession, a: Harness.Args,
      tracer: Option[Tracer]): Map[String, Any] = {
    import spark.implicits._
    val conf = EtlConf.fromEnv(Env)
    require(conf.mapping == RdfQueries.mapping &&
      conf.filterList.toSet == RdfQueries.filterList.toSet && conf.warnings.isEmpty,
      s"env does not resolve to the reference config: $conf")
    val g0 = System.nanoTime()
    val weeks = OmekaExport.weeks(a.seed)
    val pages = weeks.map(OmekaExport.pages)
    val truths = weeks.map(OmekaExport.truth(a.seed, _))
    val state0 = OmekaExport.initialState(a.seed, truths(0).keys)
    val snapshot0 = state0.stored.toSeq.sorted.flatMap(OmekaExport.monumentRows)
      .toDF(Cols: _*)
    val ledger0 = state0.ledger.toSeq.toDF("monument_key", "age_days")
    val genS = (System.nanoTime() - g0) / 1e9
    val fetcher = OmekaExport.MonumentFetcher(a.seed)

    val job = new Job(spark, a, tracer, pages, truths, state0, snapshot0,
      ledger0, fetcher)
    val pass = job.run()
    Json.obj("gen_s" -> genS, "items" -> OmekaExport.Items,
      "weeks" -> weeks.size, "pages" -> pages.map(_.size),
      "passes" -> Seq(pass), "counts" -> job.counts)
  }

  private final class Job(spark: SparkSession, a: Harness.Args,
      tracer: Option[Tracer], pages: IndexedSeq[IndexedSeq[String]],
      truths: IndexedSeq[OmekaExport.Truth], state0: OmekaExport.IncState,
      snapshot0: DataFrame, ledger0: DataFrame,
      fetcher: OmekaExport.MonumentFetcher) {
    private val label = "cold"
    private val dir = s"${a.work}/etl"
    private val ttlDir = s"$dir/turtle"
    private val snapDir = s"$dir/snapshot"
    private val changesDir = s"$dir/changes"
    private val checks = Seq.newBuilder[Check]
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    private def span[T](week: Int, name: String)(body: => T): T = tracer match {
      case Some(t) =>
        t.group(spark, label, f"w$week%02d", name)
        try t.span(name)(body) finally t.clear(spark)
      case None => body
    }

    private def fetchPage(week: Int): Int => String = {
      val ps = pages(week)
      p => ps.lift(p - 1).getOrElse("")
    }

    def run(): Map[String, Any] = {
      val ops = Seq.newBuilder[Map[String, Any]]
      var state = state0
      var snapshot = snapshot0
      var ledger = ledger0
      var failed = false
      for (w <- pages.indices if !failed) {
        val tag = f"w$w%02d"
        // the model's view of the week, replayed before the clock starts
        val (next, fetch, fails) =
          if (w == 0) (state, Set.empty[String], Set.empty[String])
          else state.step(a.seed, truths(w).keys)
        val t0 = System.nanoTime()
        try {
          def body(): Unit =
            if (w == 0) batchWeek()
            else {
              val r = incrementalWeek(w, snapshot, ledger, fetch.size, fails.size)
              snapshot = r.snapshot
              ledger = r.ledger
            }
          tracer.fold(body())(_.span(s"$label:$tag")(body()))
          ops += Json.obj("name" -> tag, "total_s" -> (System.nanoTime() - t0) / 1e9,
            "error" -> None)
        } catch {
          case NonFatal(e) =>
            failed = true
            ops += Json.obj("name" -> tag, "total_s" -> (System.nanoTime() - t0) / 1e9,
              "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        state = next
        if (!failed)
          try checkWeek(w, state)
          catch { case NonFatal(e) => checks += Check(s"$tag.check", ok = false, e.toString) }
      }
      val (rdds, bytes) = Harness.storage(spark)
      val opsSeq = ops.result()
      deleteDir(dir)
      Json.obj("label" -> label,
        "wall_s" -> opsSeq.map(_("total_s").asInstanceOf[Double]).sum,
        "storage_rdds" -> rdds, "storage_bytes" -> bytes,
        "ops" -> opsSeq, "checks" -> checks.result().map(_.json))
    }

    private def batchWeek(): Unit = {
      val result = tracer match {
        case None => Pipeline.run(spark, fetchPage(0), fetcher, Env)
        case Some(_) => stagedRun()
      }
      span(0, "Pipeline.publish")(
        Pipeline.publish(result, ttlDir, "turtle", singleFile = true))
      span(0, "Pipeline.delta")(
        Pipeline.publishDelta(result, snapDir, changesDir, "w00"))
    }

    /** `Pipeline.run`'s stages called one by one, each materialized
      * before the next span starts (the traced run only). */
    private def stagedRun(): Pipeline.Result = {
      val conf = EtlConf.fromEnv(Env)
      val fetched = span(0, "sources.fetch")(OmekaSource.fetchPages(fetchPage(0)))
      val raw = span(0, "sources.parse")(
        OmekaSource.load(spark, p => fetched.lift(p - 1).getOrElse("")).localCheckpoint())
      val clean = span(0, "rdf.clean")(RdfOps.cleanExport(raw).localCheckpoint())
      val failedKeys = spark.sparkContext.longAccumulator("perfbench.failedKeys")
      val monuments = span(0, "rdf.enrich_fetch")(
        Enrichment.fetchAll(RdfOps.enrichmentKeys(clean), fetcher,
          failedCounter = Some(failedKeys)).localCheckpoint())
      val enriched = span(0, "rdf.enrich")(RdfOps.enrich(clean, monuments).localCheckpoint())
      val out = span(0, "rdf.map_filter")(RdfOps.applyFilter(
        RdfOps.applyMapping(enriched, conf.mapping), conf.filterList).localCheckpoint())
      val keys = RdfOps.enrichmentKeys(clean).count()
      counts ++= Seq("parsed" -> raw.count(), "kept" -> clean.count(),
        "batch_keys" -> keys, "batch_failed" -> failedKeys.value.longValue)
      Pipeline.Result(out, conf, Vocab.namespaces)
    }

    private def incrementalWeek(w: Int, snapshot: DataFrame, ledger: DataFrame,
        expectFetch: Int, expectFailed: Int): Pipeline.IncrementalResult = {
      val r = span(w, "Pipeline.incremental")(Pipeline.runIncremental(spark,
        fetchPage(w), fetcher, Env, snapshot, ledger,
        ttlDays = OmekaExport.TtlDays, elapsedDays = OmekaExport.ElapsedDays))
      span(w, "Pipeline.delta")(Pipeline.publishDelta(
        Pipeline.Result(r.triples, r.conf, r.prefixes), snapDir, changesDir, f"w$w%02d"))
      val m = r.metrics
      counts(f"w$w%02d.keys_total") = m.keysTotal
      counts(f"w$w%02d.attempted") = m.attempted
      counts(f"w$w%02d.failed") = m.failed
      checks += Check(f"w$w%02d.fetch_metrics",
        m.keysTotal == truths(w).keys.size && m.attempted == expectFetch &&
          m.failed == expectFailed,
        s"engine $m, expected keys=${truths(w).keys.size} " +
          s"attempted=$expectFetch failed=$expectFailed")
      r
    }

    /** Untimed: the published snapshot against the generator's truth;
      * in week 0 also the Turtle publish, and in the last week a batch
      * run over the same pages. */
    private def checkWeek(w: Int, state: OmekaExport.IncState): Unit = {
      val tag = f"w$w%02d"
      val truth = truths(w)
      val published = spark.read.parquet(snapDir).select(Cols.map(col): _*)
      // rows the incremental snapshot keeps for keys that left the export
      val departed = if (w == 0) Set.empty[String] else state.stored -- truth.keys
      val expected = truth.triples + 3L * departed.size
      val n = published.count()
      checks += Check(s"$tag.triples", n == expected, s"published $n, expected $expected")
      counts(s"$tag.published") = n
      val enriched = published.filter(col("predicate") === SdoSameAs)
        .select("subject").distinct().collect().map(_.getString(0)).toSet
      checks += Check(s"$tag.enriched_subjects", enriched == truth.enriched,
        s"published ${enriched.size}, expected ${truth.enriched.size}, " +
          s"differing ${(enriched diff truth.enriched).size + (truth.enriched diff enriched).size}")
      counts(s"$tag.delta_rows") =
        spark.read.parquet(changesDir).filter(col("run_id") === tag).count()
      if (w == 0) {
        val ttl = spark.read.format("turtle").load(ttlDir).select(Cols.map(col): _*)
        val extra = ttl.except(published).count()
        val missing = published.except(ttl).count()
        checks += Check("w00.turtle_equals_parquet", extra == 0 && missing == 0,
          s"turtle-only $extra, parquet-only $missing")
        counts("publish_bytes") = dirBytes(ttlDir)
      }
      if (w == pages.size - 1) {
        val batch = Pipeline.run(spark, fetchPage(w), fetcher, Env).triples
          .select(Cols.map(col): _*)
        val missing = batch.except(published).count()
        val extra = published.except(batch).collect()
          .map(r => (r.getString(1), r.getString(3), r.getString(4))).toSet
        val departedRows = departed.flatMap(k =>
          OmekaExport.monumentRows(k).map(t => (t._2, t._4, t._5)))
        counts("departed_rows") = extra.size
        checks += Check(s"$tag.incremental_equals_batch",
          missing == 0 && extra == departedRows,
          s"batch-only $missing, incremental-only ${extra.size} " +
            s"(${departedRows.size} are enrichment rows of ${departed.size} " +
            "monuments whose items left the export)")
      }
    }
  }

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    Option(f.listFiles).toSeq.flatten.filter(_.isFile)
      .filterNot(_.getName.startsWith(".")).map(_.length).sum
  }

  private def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}
