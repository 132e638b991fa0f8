package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import graft.config.EtlConf
import graft.rdf.{Enrichment, RdfOps, Turtle}
import graft.sources.OmekaSource

/** O19 — the whole reference ETL as ONE Spark application (reference:
  * the 3-job GitHub Actions DAG with file-artifact hand-offs,
  * muurschilderingendatabase-etl.yml:16–91, and EP1/EP2 of SURVEY §3).
  *
  * Where the reference crosses process/machine boundaries (HTTP fetch
  * → file → parse → file → artifact upload → download → transform →
  * file → publish), the engine is a single lazy dataflow:
  *
  *   pages → parse → clean(O4–O7) → enrich(O14–O16) → rename(O17)
  *         → delete(O18) → sink (Turtle or parquet)
  *
  * Actions happen only at the sink (plus optional count() metrics).
  * Both fetch functions are injectable seams (driver-side page loop,
  * executor-side key lookups).
  */
object Pipeline {

  final case class Result(triples: DataFrame, conf: EtlConf,
      prefixes: Map[String, String])

  /** Run export (EP1) + transform (EP2) end-to-end, returning the
    * final triple table plus the namespace bindings to publish it
    * under. `fetchApiContext` is the O8 seam (the reference GETs
    * `api-context` and binds every prefix before serializing,
    * export_from_omeka_s.py:74–80): fetched bindings override the
    * static catalog and flow into [[publish]]'s Turtle headers. */
  def run(spark: SparkSession,
      fetchPage: Int => String,
      fetchMonument: String => Seq[Turtle.FlatTriple],
      env: Map[String, String],
      graphId: String = "default",
      fetchApiContext: Option[() => String] = None): Result = {
    val conf = EtlConf.fromEnv(env)
    val prefixes = rdf.Vocab.namespaces ++                  // O8 bind
      fetchApiContext.map(f => OmekaSource.parseApiContext(f()))
        .getOrElse(Map.empty)
    val raw = OmekaSource.load(spark, fetchPage, graphId)   // O1–O3
    // materialized once: consumed by the key scan AND the enrichment
    // union (the reference's own EP1→EP2 file hand-off, yml:33–54)
    val clean = RdfOps.cleanExport(raw).localCheckpoint()   // O4–O7
    val keys = RdfOps.enrichmentKeys(clean)                 // O14 keys
    // materialized at once: enrich's union feeds both the combined
    // set and the typed-subject scan — unchecked, every key would be
    // fetched twice per run
    val fetched = Enrichment.fetchAll(keys, fetchMonument)  // O14 fetch
      .localCheckpoint()
    val enriched = RdfOps.enrich(clean, fetched)            // O15+O16
    val mapped = RdfOps.applyMapping(enriched, conf.mapping) // O17
    val ttl = RdfOps.applyFilter(mapped, conf.filterList)   // O18
    Result(ttl, conf, prefixes)
  }

  /** [[run]]'s INCREMENTAL form — the weekly run proportional to
    * CHANGE instead of corpus, with the reference's freshness
    * contract kept. The reference re-fetches every monument every
    * week (transform_datamodel.py:88–101); the batch [[run]] does
    * too (dedup'd). This form consumes the PREVIOUS run's enrichment
    * snapshot plus its fetch LEDGER `(monument_key, age_days)` and
    * fetches only [[rdf.RdfOps.enrichmentFetchList]]'s keys — the
    * ones the snapshot has never seen, plus the ones whose last
    * fetch is `ttlDays` or more days old — so an upstream edit still
    * propagates within the TTL while the steady-state weekly fetch
    * volume is the delta, not the dimension.
    *
    * Returns, beyond the published triples: the REFRESHED snapshot
    * ([[rdf.Enrichment.applyRefresh]] — replaced rows, not
    * set-union, so edits actually land), the updated ledger (every
    * attempted key at age 0 — a best-effort fetch failure resets
    * too, matching the reference's skip-and-continue semantics
    * (transform:100–101): a permanently failing key retries each
    * TTL, not each run), the fetch list itself for metering, and
    * per-run [[FetchMetrics]] — the reference logs and skips each
    * per-key failure (transform:100–101); a silent shrink of the
    * refresh set is an operational blind spot, so the counts are a
    * first-class output.
    *
    * LEDGER AGING: `elapsedDays` is the wall-clock days since the
    * consumed ledger was produced (7 for the reference's weekly
    * cadence). Every key ages by it up front — unfetched keys KEEP
    * the aged value in the returned ledger, so a fresh key's age
    * actually advances run over run and crosses the TTL (persisting
    * ages verbatim with elapsedDays = 0 would freeze every unfetched
    * key's age forever and silently break the freshness contract
    * this form exists to keep). The caller persists snapshot +
    * ledger for the next run. */
  final case class IncrementalResult(triples: DataFrame, conf: EtlConf,
      prefixes: Map[String, String], snapshot: DataFrame,
      ledger: DataFrame, fetchList: DataFrame, metrics: FetchMetrics)

  /** Per-run enrichment fetch accounting: `keysTotal` distinct keys
    * in this run's export; `attempted` = missing + TTL-stale (the
    * fetch list); `skippedFresh` = within-TTL keys served from the
    * stored snapshot; of the attempted, `fetched` succeeded and
    * `failed` threw (skip-and-continue, counted per key by the
    * executor-side accumulator — at-least-once under task retries,
    * like any Spark accumulator metric). */
  final case class FetchMetrics(keysTotal: Long, attempted: Long,
      skippedFresh: Long, fetched: Long, failed: Long)

  def runIncremental(spark: SparkSession,
      fetchPage: Int => String,
      fetchMonument: String => Seq[Turtle.FlatTriple],
      env: Map[String, String],
      storedSnapshot: DataFrame,
      ledger: DataFrame,
      ttlDays: Int = 7,
      elapsedDays: Int = 0,
      graphId: String = "default",
      fetchApiContext: Option[() => String] = None): IncrementalResult = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val conf = EtlConf.fromEnv(env)
    val prefixes = rdf.Vocab.namespaces ++
      fetchApiContext.map(f => OmekaSource.parseApiContext(f()))
        .getOrElse(Map.empty)
    val raw = OmekaSource.load(spark, fetchPage, graphId)
    val clean = RdfOps.cleanExport(raw).localCheckpoint()
    // the two counts ride on checkpoints that materialize anyway:
    // observed, not counted by extra jobs
    val keysSeen = Observation()
    val attemptedSeen = Observation()
    val keys = RdfOps.enrichmentKeys(clean)
      .observe(keysSeen, count(lit(1)).as("n")).localCheckpoint()
    // age the whole ledger by the inter-run gap BEFORE the staleness
    // cut, so "stale" means stale NOW, not as of the previous run
    val aged = ledger.withColumn("age_days",
      (col("age_days") + lit(elapsedDays)).cast("int"))
    // consumed twice (fetch + ledger update): materialize once
    val fetchList = RdfOps.enrichmentFetchList(keys, aged, ttlDays)
      .observe(attemptedSeen, count(lit(1)).as("n")).localCheckpoint()
    val failedCounter = spark.sparkContext.longAccumulator(
      "graft.enrichment.failedKeys")
    // materialized at once: applyRefresh consumes the fetch TWICE
    // (refreshed-subject anti-join + union) — without this every key
    // would be fetched twice and the failure counter double-counted
    val fetched = Enrichment.fetchAll(
      fetchList.select("monument_key"), fetchMonument,
      failedCounter = Some(failedCounter))
      .localCheckpoint() // counter is final from here
    val snapshot2 = Enrichment.applyRefresh(storedSnapshot, fetched)
      .localCheckpoint()
    val enriched = RdfOps.enrich(clean, snapshot2)
    val ttl = RdfOps.applyFilter(
      RdfOps.applyMapping(enriched, conf.mapping), conf.filterList)
    val ledger2 = aged
      .join(fetchList.select("monument_key"), Seq("monument_key"),
        "left_anti")
      .select(col("monument_key"), col("age_days"))
      .union(fetchList.select(col("monument_key"),
        lit(0).cast("int").as("age_days")))
    val keysTotal = keysSeen.get("n").asInstanceOf[Long]
    val attempted = attemptedSeen.get("n").asInstanceOf[Long]
    val metrics = FetchMetrics(keysTotal, attempted,
      skippedFresh = keysTotal - attempted,
      fetched = attempted - failedCounter.value,
      failed = failedCounter.value)
    IncrementalResult(ttl, conf, prefixes, snapshot2, ledger2,
      fetchList, metrics)
  }

  /** [[run]] wired to the default HTTP clients
    * ([[sources.OmekaHttp]] / [[sources.HttpMonumentFetcher]]) — the
    * turn-key form for a live Omeka S deployment, matching the
    * reference's endpoints and 200 s timeouts. `enrichmentUrlPrefix`
    * is the per-key GET prefix (the reference's is the public
    * rest-api-rijksmonumenten `run?rijksmonumentnummer=` URL,
    * transform_datamodel.py:94). */
  def runHttp(spark: SparkSession, baseUri: String,
      enrichmentUrlPrefix: String, env: Map[String, String],
      graphId: String = "default"): Result = {
    val http = new sources.OmekaHttp(baseUri)
    run(spark, http.fetchPage, sources.HttpMonumentFetcher(
      enrichmentUrlPrefix), env, graphId,
      fetchApiContext = Some(() => http.fetchApiContext()))
  }

  /** O19's closing sink — the reference ends in an overwrite-publish
    * into a named graph (muurschilderingendatabase-etl.yml:87); here
    * that is `mode("overwrite")` into a store path:
    *  - `format = "parquet"`: the cluster-scale triple-table publish
    *    (what a downstream Spark/DuckDB consumer reads);
    *  - `format = "turtle"`: the reference's wire-format parity via
    *    the `turtle` DSv2 writer, one self-contained document per
    *    partition with the fetched O8 prefixes in the `@prefix`
    *    headers; `singleFile = true` coalesces to the reference's
    *    one-file export shape (driver-volume bound — leave false at
    *    scale).
    *
    * Turtle cannot encode the graph column: a turtle publish is
    * per-graph — the reference's own model, one export = one named
    * graph — and a re-read attaches the reader's `graph` option
    * (default "default"). Multi-graph results publish with
    * `format = "trig"` (Turtle's graph-aware superset: non-default
    * graphs emit in `GRAPH <id> { … }` blocks, and the same `turtle`
    * reader parses them back with the graph column intact) or to
    * parquet. `format = "nt"` publishes line-splittable N-Triples
    * (absolute IRIs, no prefix header; like turtle it drops the
    * graph column) — the interchange form downstream line-oriented
    * consumers can split arbitrarily. `format = "bucketed"` is the
    * SCALE-OUT store publish: the same parquet bytes, written
    * subject-bucketed + sorted through the catalog (see
    * [[bucketedTableName]]) so downstream subject-keyed pivots and
    * self-joins run exchange-free.
    */
  /** The reference's WHOLE environment contract, resolved: the five
    * export/publish vars (export_from_omeka_s.py:13–21) on top of the
    * FILTER… and MAP_… transform grammar that [[EtlConf.fromEnv]] already
    * covers (instantiated by the workflow at
    * muurschilderingendatabase-etl.yml:20–31,55–64). */
  final case class EnvPlan(
      baseUri: String,
      targetFilepath: String,
      format: String,
      graphId: String,
      enrichmentUrlPrefix: String,
      warnings: Seq[String])

  /** The reference's hardcoded per-record enrichment endpoint
    * (transform_datamodel.py:94), overridable via
    * ENRICHMENT_URL_PREFIX (an engine extension — the reference has
    * no knob for it). */
  val DefaultEnrichmentUrlPrefix: String =
    "https://api.linkeddata.cultureelerfgoed.nl/queries/rce/" +
      "rest-api-rijksmonumenten/run?rijksmonumentnummer="

  /** Resolve the export/publish env surface exactly as the reference
    * does — same names, same defaults (export_from_omeka_s.py:13–21):
    * BASE_URI, TARGET_FILEPATH, OUTPUT_FILE_FORMAT ('ttl'),
    * GRAPH_ID, ENCODING.
    *
    * Deltas, both surfaced rather than silent:
    *  - an unknown OUTPUT_FILE_FORMAT throws (the reference's rdflib
    *    `serialize(format=…)` raises a PluginException — config
    *    typos fail the job there too);
    *  - a non-UTF-8 ENCODING is recorded as a warning: the engine's
    *    Turtle writer emits UTF-8 only (the reference workflow never
    *    sets ENCODING; its default is utf-8). */
  def planFromEnv(env: Map[String, String]): EnvPlan = {
    val warnings = Seq.newBuilder[String]
    val format =
      // Locale.ROOT: a Turkish-default JVM lowercases "TRIG" to
      // "trıg" (dotless ı) and would reject a valid format
      env.getOrElse("OUTPUT_FILE_FORMAT", "ttl")
        .toLowerCase(java.util.Locale.ROOT) match {
        case "ttl" | "turtle" => "turtle"
        case "trig" => "trig"
        case "nt" | "ntriples" => "nt"
        case "parquet" => "parquet"
        // engine extension beyond the reference's rdflib formats:
        // the subject-bucketed store (see [[publish]])
        case "bucketed" => "bucketed"
        case other => throw new IllegalArgumentException(
          s"OUTPUT_FILE_FORMAT '$other' is not a known serialization " +
            "(ttl/turtle, trig, nt/ntriples, parquet, bucketed)")
      }
    val encoding = env.getOrElse("ENCODING", "utf-8")
    if (!encoding.replace("-", "").equalsIgnoreCase("utf8"))
      warnings += s"ENCODING '$encoding' unsupported — the Turtle " +
        "writer emits UTF-8 (reference default; delta documented)"
    EnvPlan(
      baseUri = env.getOrElse("BASE_URI",
        "https://muurschilderingendatabase.nl/"),
      targetFilepath = env.getOrElse("TARGET_FILEPATH", "api-export.ttl"),
      format = format,
      graphId = env.getOrElse("GRAPH_ID", "default"),
      enrichmentUrlPrefix = env.getOrElse("ENRICHMENT_URL_PREFIX",
        DefaultEnrichmentUrlPrefix),
      warnings = warnings.result())
  }

  /** One env block in, one finished run out — the engine equivalent
    * of the reference's whole workflow invocation (the three-job DAG
    * reduced to run + publish). Fetchers stay injectable seams so the
    * assembly is testable; [[fromEnvHttp]] is the turn-key wiring.
    * The publish lands on TARGET_FILEPATH in OUTPUT_FILE_FORMAT as a
    * single file — the reference's one-artifact shape
    * (muurschilderingendatabase-etl.yml:33–40; driver-volume bound,
    * like any single-file export). */
  def fromEnv(spark: SparkSession,
      env: Map[String, String],
      fetchPage: Int => String,
      fetchMonument: String => Seq[Turtle.FlatTriple],
      fetchApiContext: Option[() => String] = None,
      doPublish: Boolean = true): (EnvPlan, Result) =
    runPlanned(spark, planFromEnv(env), env, fetchPage, fetchMonument,
      fetchApiContext, doPublish)

  private def runPlanned(spark: SparkSession, plan: EnvPlan,
      env: Map[String, String],
      fetchPage: Int => String,
      fetchMonument: String => Seq[Turtle.FlatTriple],
      fetchApiContext: Option[() => String],
      doPublish: Boolean): (EnvPlan, Result) = {
    val result = run(spark, fetchPage, fetchMonument, env,
      plan.graphId, fetchApiContext)
    if (doPublish)
      publish(result, plan.targetFilepath, plan.format,
        singleFile = plan.format != "parquet" && plan.format != "bucketed")
    (plan, result)
  }

  /** [[fromEnv]] wired to the live HTTP clients — `Pipeline
    * .fromEnvHttp(spark)` replays the reference's scheduled run from
    * nothing but the environment. */
  def fromEnvHttp(spark: SparkSession,
      env: Map[String, String] = sys.env.toMap): (EnvPlan, Result) = {
    val plan = planFromEnv(env)
    val http = new sources.OmekaHttp(plan.baseUri)
    runPlanned(spark, plan, env, http.fetchPage,
      sources.HttpMonumentFetcher(plan.enrichmentUrlPrefix),
      Some(() => http.fetchApiContext()), doPublish = true)
  }

  /** Incremental publish — the engine upgrade of the reference's
    * overwrite-the-world weekly publish (yml:87): maintain the
    * current snapshot AND a change log. Each run appends the diff
    * against the previous snapshot (added/removed rows tagged with
    * this run's id — the rdf_snapshot_diff shape as a persisted CDC
    * feed a downstream consumer can apply or audit) to `changesPath`,
    * then overwrites `snapshotPath` with the new triple table.
    * First run: everything is `added`. A re-publish of identical
    * content appends nothing (the diff is empty — content-idempotent
    * by construction). Diff cost is two EXCEPT exchanges of
    * snapshot scale; bucketing both snapshots on subject at write
    * time co-locates them at 100 TB.
    *
    * The new snapshot is localCheckpoint'ed up front: it feeds both
    * EXCEPT branches and the final overwrite, and the change-log
    * write fully materializes before the snapshot it read from is
    * rewritten.
    *
    * CRASH/RETRY CONTRACT: the change log is PARTITIONED BY run_id
    * and written with dynamic partition overwrite, so a run writes
    * (or on retry REPLACES) exactly its own `run_id=` partition —
    * a torn write from a crashed attempt is healed, not duplicated,
    * and other runs' partitions are untouched. The two writes are
    * still not jointly atomic (no transaction log here): a crash
    * BETWEEN them leaves the old snapshot next to a complete change
    * partition, and the retry — which re-diffs against the OLD
    * snapshot, so it reproduces the same rows — replaces that
    * partition and then commits the snapshot. Consumers must treat
    * the per-run partition as the authoritative diff (it is
    * rewritten whole, never appended to) and may observe
    * change-log-ahead-of-snapshot during the window;
    * [[applyChanges]]'s set semantics absorb that read. */
  def publishDelta(result: Result, snapshotPath: String,
      changesPath: String, runId: String): Unit = {
    import org.apache.spark.sql.functions.lit
    val spark = result.triples.sparkSession
    val next = result.triples.localCheckpoint()
    try {
      healSwap(spark, snapshotPath)
      val prev =
        graft.streaming.Artifacts.readParquet(spark, snapshotPath)
      val changes = prev match {
        case Some(p) =>
          next.except(p).withColumn("change", lit("added"))
            .union(p.except(next).withColumn("change", lit("removed")))
        case None => next.withColumn("change", lit("added"))
      }
      changes.withColumn("run_id", lit(runId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id")
        .parquet(changesPath)
      atomicReplace(next, snapshotPath)
    } finally {
      org.apache.spark.sql.graftshim.ColumnBridge.freeLocalCheckpoint(next)
    }
  }

  /** The consumer side of [[publishDelta]]'s feed: apply one run's
    * change rows to a snapshot (drop `removed`, add `added`). By
    * construction `applyChanges(snapshot_before, changes_of_run)`
    * reproduces the snapshot after that run — so a downstream store
    * can follow the change log instead of re-copying the snapshot,
    * and any historical state is reconstructible by folding runs in
    * order. Set semantics throughout (EXCEPT/UNION DISTINCT), same
    * as the triple model's. */
  def applyChanges(snapshot: DataFrame, changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = snapshot.columns.map(col(_))
    val added = changes.filter(col("change") === "added").select(cols: _*)
    val removed = changes.filter(col("change") === "removed")
      .select(cols: _*)
    snapshot.except(removed).union(added).dropDuplicates()
  }

  private def readOptional(spark: SparkSession,
      path: String): Option[DataFrame] =
    graft.streaming.Artifacts.readParquet(spark, path)

  /** ATOMIC-SWAP snapshot publish: write `df` to `<path>.tmp`, then
    * swap directories by rename — the live snapshot at `path` is
    * either the complete old version or the complete new one at
    * every instant a reader can list it; a crash mid-WRITE only ever
    * corrupts the `.tmp` staging dir (the in-place `overwrite` this
    * replaces deletes the live directory first, so a crash there
    * destroys the snapshot — the hazard flagged for the CDC
    * mirror). The one unguarded window is between the two renames
    * (old → `.old`, `.tmp` → live), which is two metadata ops, not a
    * data write; [[healSwap]] makes even that window self-healing on
    * the next access. Renames are atomic on HDFS and on POSIX local
    * filesystems; object stores without atomic rename need a
    * manifest/pointer layer instead. */
  def atomicReplace(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    fs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(old, true)
    // FileSystem.rename reports failure as `false`, not an exception
    // (cross-device, permission, missing parent). A silent false here
    // followed by the delete(old) below would discard the only intact
    // snapshot — fail before touching the backup.
    if (fs.exists(dest))
      require(fs.rename(dest, old), s"atomicReplace: rename $dest -> $old failed")
    require(fs.rename(tmp, dest), s"atomicReplace: rename $tmp -> $dest failed")
    fs.delete(old, true)
  }

  /** Recovery for [[atomicReplace]]'s rename window: if the live
    * directory is missing but the `.old` backup exists (a crash
    * landed between the two renames), restore the backup; drop any
    * stale staging dir. Call before reading or re-publishing a
    * swap-maintained snapshot. SINGLE-WRITER discipline: healSwap
    * deletes the staging dir, so it must not race an in-flight
    * [[atomicReplace]] — callers here (publisher, compactor, the
    * CDC mirror's foreachBatch) all serialize writer turns. No-op
    * in the healthy state. */
  def healSwap(spark: SparkSession, path: String): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    if (!fs.exists(dest) && fs.exists(old))
      require(fs.rename(old, dest), s"healSwap: restore rename $old -> $dest failed")
    fs.delete(new org.apache.hadoop.fs.Path(path + ".tmp"), true)
  }

  /** Fold a slice of the [[publishDelta]] change log onto a base
    * snapshot in ONE pass: per triple, the change with the highest
    * run_id wins (a run's diff never both adds and removes the same
    * triple — added/removed are EXCEPT complements — so the argmax is
    * unambiguous). Equivalent to folding the runs in order through
    * [[applyChanges]], but one shuffle on the triple key + one
    * anti-join instead of 2·N snapshot-scale EXCEPTs — the shape that
    * survives a year of weekly runs. Requires run ids that order
    * lexicographically with publish order (zero-padded counters or
    * ISO timestamps — the contract [[compactDelta]] documents). */
  private def foldLog(base: Option[DataFrame],
      changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, max, struct}
    val tripleCols =
      changes.columns.filterNot(c => c == "change" || c == "run_id")
    val cols = tripleCols.map(col(_))
    val last = changes
      .groupBy(cols: _*)
      .agg(max(struct(col("run_id").cast("string").as("run_id"),
        col("change"))).as("lc"))
    val lastAdded = last.filter(col("lc.change") === "added")
      .select(cols: _*)
    base match {
      case Some(b) =>
        // null-safe anti-join: triple columns are nullable (obj_lang,
        // obj_datatype) and a plain equi-join never matches null keys,
        // which would leak removed null-bearing rows back into the base
        val touched = last.select(cols: _*).as("t")
        val cond = tripleCols.map(c => col(s"b.$c") <=> col(s"t.$c"))
          .reduce(_ && _)
        b.as("b").join(touched, cond, "left_anti")
          .union(lastAdded).dropDuplicates()
      case None => lastAdded
    }
  }

  /** Public one-pass log fold — the consumer-side primitive shared
    * by [[compactDelta]] and the streaming CDC subscriber
    * ([[graft.streaming.CdcStream.startApply]]): fold a slice of the
    * [[publishDelta]] change log onto an optional base snapshot,
    * last-change-per-triple-wins (see [[foldLog]] for the shape and
    * the run-id ordering contract). Idempotent over re-delivered
    * change rows: a run's rows re-applied onto a base that already
    * reflects them reproduce the same base — the property both the
    * compaction retry path and streaming redelivery rely on. */
  def applyLog(base: Option[DataFrame], changes: DataFrame): DataFrame =
    foldLog(base, changes)

  /** Change-log COMPACTION — caps [[publishDelta]]'s replay debt.
    * Without it a consumer bootstrapping from the log pays one fold
    * per historical run forever (52 after a year of weekly runs); the
    * reference's overwrite-publish has no such debt because it keeps
    * no history. Compaction folds every change partition with
    * `run_id <= upToRun` (string comparison — run ids must order
    * lexicographically with publish order: zero-padded counters or
    * ISO timestamps) into the base snapshot at `basePath`, then drops
    * those partitions from the log. Bootstrap cost becomes
    * base + post-checkpoint runs; audit history before the
    * checkpoint is intentionally traded away.
    *
    * CRASH/RETRY CONTRACT (same discipline as [[publishDelta]]): the
    * folded base is fully materialized (localCheckpoint) before
    * `basePath` is overwritten, and partition deletes happen after.
    * A crash between base write and the deletes leaves already-folded
    * partitions in the log; the retry re-folds them onto the new
    * base, which is a NO-OP by construction — last-change-wins over
    * an already-applied change set reproduces the same base
    * (spec-proven) — then completes the deletes. */
  def compactDelta(spark: SparkSession, changesPath: String,
      basePath: String, upToRun: String): Unit =
    readOptional(spark, changesPath).foreach { log =>
      compactLog(spark, log, changesPath, basePath, upToRun)
    }

  private def compactLog(spark: SparkSession, log: DataFrame,
      changesPath: String, basePath: String, upToRun: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    healSwap(spark, basePath)
    val folded = foldLog(readOptional(spark, basePath),
      log.filter(col("run_id").cast("string") <= lit(upToRun)))
      .localCheckpoint()
    try {
      atomicReplace(folded, basePath)
      val root = new org.apache.hadoop.fs.Path(changesPath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith("run_id=")) {
          val v = java.net.URLDecoder.decode(
            name.stripPrefix("run_id="), "UTF-8")
          if (v <= upToRun) fs.delete(st.getPath, true)
        }
      }
    } finally {
      org.apache.spark.sql.graftshim.ColumnBridge.freeLocalCheckpoint(folded)
    }
  }

  /** Bootstrap the current snapshot from the compacted base + the
    * remaining change log — the consumer's recovery path after
    * [[compactDelta]] (and before any compaction, with no base
    * written yet, it replays the full log from empty). One-pass
    * last-change-wins fold; by the compaction invariant this equals
    * replaying the FULL pre-compaction log. */
  def bootstrapFromLog(spark: SparkSession, basePath: String,
      changesPath: String): DataFrame =
    (readOptional(spark, basePath), readOptional(spark, changesPath)) match {
      case (base, Some(log)) => foldLog(base, log)
      case (Some(base), None) => base
      case (None, None) => throw new IllegalArgumentException(
        s"nothing to bootstrap from: no base at $basePath, " +
          s"no change log at $changesPath")
    }

  /** Bucket fan-out for `format = "bucketed"`. The default 32
    * matches the session's shuffle parallelism at local[32]; a
    * cluster deploy sets `spark.graft.publish.buckets` so one bucket
    * ≈ one task's worth of triples (the knob matters: bucket count
    * is FROZEN into the table — downstream exchange-free plans
    * inherit this parallelism until the next full publish). */
  val PublishBuckets = 32

  private def publishBuckets(s: SparkSession): Int =
    s.conf.getOption("spark.graft.publish.buckets")
      .map(_.toInt).getOrElse(PublishBuckets)

  /** Catalog identifier for a bucketed publish at `path` — Spark
    * persists bucketing METADATA only through the catalog
    * (`saveAsTable`), never through a path write, so the bucketed
    * store is an EXTERNAL table: bytes at `path`, spec in the
    * metastore under this deterministic path-derived name (re-publish
    * to the same path overwrites the same table). */
  def bucketedTableName(path: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
    "graft_store_" + md.take(6).map("%02x".format(_)).mkString
  }

  def publish(result: Result, path: String, format: String = "parquet",
      singleFile: Boolean = false): Unit = {
    val df =
      if (singleFile) result.triples.coalesce(1) else result.triples
    format match {
      case "parquet" => df.write.mode("overwrite").parquet(path)
      // The scale-out store shape: subject-bucketed + sorted, so the
      // star-BGP pivot (one groupBy(subject)) and every
      // subject-keyed self-join run with ZERO exchanges against the
      // published table (RdfBucketedSpec proves the plan; the
      // publish-lifecycle spec proves this writer produces it). The
      // weekly overwrite-publish (yml:87) maps to saveAsTable
      // overwrite on the same external table.
      case "bucketed" => df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(publishBuckets(df.sparkSession), "subject")
        .sortBy("subject")
        .saveAsTable(bucketedTableName(path))
      case "turtle" | "trig" | "nt" => df.write.format("turtle")
        .option("prefixes",
          sources.TurtleDataSource.prefixesOption(result.prefixes))
        .option("syntax", format)
        .mode("overwrite").save(path)
      case other =>
        throw new IllegalArgumentException(s"unknown publish format $other")
    }
  }
}
