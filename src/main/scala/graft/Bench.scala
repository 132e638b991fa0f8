package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.CodegenCache

object Bench {
  /** One timed run of a single query; `err` is the exception class+message
    * when the query failed (its wall time then measures a stack unwind,
    * not work — consumers must not average it in). `compiles` counts
    * the generated classes janino compiled during the run. */
  final case class QueryRun(name: String, sec: Double, err: Option[String],
      compiles: Long)

  /** `fn(spark, sfDir).count()`, timed: (seconds, error, classes
    * compiled). The compile counter is read outside the timed region. */
  private def timeOnce(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : (Double, Option[String], Long) = {
    val c0 = CodegenCache.compiles
    val t0 = System.nanoTime()
    val err =
      try { fn(spark, sfDir).count(); None }
      catch { case NonFatal(e) =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    val sec = (System.nanoTime() - t0) / 1e9
    (sec, err, CodegenCache.compiles - c0)
  }

  /** Timing core, separated from `main` so a spec can drive it with an
    * injected (possibly broken) query map and assert on the failure
    * surface without forking a JVM. */
  def run(
      spark: SparkSession,
      sfDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])
      : Seq[QueryRun] =
    // Fixed (sorted) timing order: Map iteration order is hash-order
    // and would shift per-query warm-up between rounds.
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (sec, err, compiles) = timeOnce(spark, sfDir, fn)
      QueryRun(name, sec, err, compiles)
    }

  /** One query timed cold-then-warm: `coldSec` is the first
    * execution (pays memoized-artifact builds, codegen, shuffle-file
    * creation), `warmSecs` the subsequent repetitions. `compiles`
    * holds the classes compiled per run, cold first. */
  final case class SteadyRun(name: String, coldSec: Double,
      warmSecs: Seq[Double], err: Option[String], compiles: Seq[Long])

  /** Steady-state timing: each query runs once cold then `warmReps`
    * more times; the artifact carries BOTH numbers and the headline
    * total is the sum of warm MEDIANS — a statistic ambient driver
    * load has to beat 2-of-3 times to move, where the single-shot
    * mode's number moves with any one coincident load spike.
    * (BASELINE.md documents three rounds of contended single-shot
    * artifacts that had to be re-litigated by hand; the warm median
    * is the operative line going forward.) A query that errs is
    * never re-run (its cold time measures a stack unwind; consumers
    * must not average it in). */
  def runSteady(
      spark: SparkSession,
      sfDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      warmReps: Int): Seq[SteadyRun] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (cold, err, coldCompiles) = timeOnce(spark, sfDir, fn)
      val warm = if (err.isDefined) Nil
        else (1 to warmReps).map(_ => timeOnce(spark, sfDir, fn))
      SteadyRun(name, cold, warm.map(_._1), err,
        coldCompiles +: warm.map(_._3))
    }

  /** Median of the warm repetitions; cold time when there are none
    * (erred or warmReps = 0). */
  def warmMedian(r: SteadyRun): Double =
    if (r.warmSecs.isEmpty) r.coldSec
    else r.warmSecs.sorted.apply(r.warmSecs.size / 2)

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Environment block embedded in every artifact so a stall-band run
    * is identifiable by inspection alone: the host's 1-minute load
    * average (ambient contention), the JVM's max heap (an
    * under-provisioned heap shows up here, not in a plan diff), and
    * cumulative GC time/count since JVM start (a GC-excursion run
    * carries tens of seconds here where a clean run carries ~1-2 s).
    * BASELINE.md documents three rounds where these — not plan
    * changes — moved the numbers and had to be re-litigated by hand.
    * Also the codegen cache size in effect: at Spark's 100 every warm
    * pass recompiles what the last one evicted. */
  private def envJson(): String = {
    import java.lang.management.ManagementFactory
    val load = ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val maxHeap = Runtime.getRuntime.maxMemory
    var gcMs = 0L
    var gcN = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      if (b.getCollectionTime > 0) gcMs += b.getCollectionTime
      if (b.getCollectionCount > 0) gcN += b.getCollectionCount
    }
    s""""load_avg_1m":$load,"max_heap_bytes":$maxHeap,"gc_ms":$gcMs,"gc_count":$gcN,"codegen_cache_max_entries":${CodegenCache.maxEntries}"""
  }

  /** The one-line bench JSON, self-diagnosing via [[envJson]];
    * `codegen_compiles` holds each query's compiled-class count. */
  def renderJson(runs: Seq[QueryRun], sfDir: String): String = {
    val qs = runs.map(r => jsonStr(r.name) + ":" + r.sec)
      .mkString("{", ",", "}")
    val errs = runs.filter(_.err.isDefined)
      .map(r => jsonStr(r.name) + ":" + jsonStr(r.err.get))
      .mkString("{", ",", "}")
    val compiles = runs.map(r => jsonStr(r.name) + ":" + r.compiles)
      .mkString("{", ",", "}")
    val total = runs.map(_.sec).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"codegen_compiles":$compiles,${envJson()},"sf":${jsonStr(sfDir)}}"""
  }

  /** The steady-state one-liner: headline = sum of warm medians;
    * `queries` holds the warm medians (the operative numbers),
    * `cold` the first-execution times (artifact builds included).
    * Erred queries appear ONLY in `errors` (their entries in
    * `queries` are null and they are excluded from both totals): an
    * erred run's wall time is a stack unwind, and folding it into
    * the headline would contradict [[runSteady]]'s own "consumers
    * must not average it in" contract — the nonzero exit code flags
    * the failure, the totals stay meaningful. `codegen_compiles`
    * lists each query's compiled-class counts, cold first. */
  def renderSteadyJson(runs: Seq[SteadyRun], sfDir: String,
      warmReps: Int): String = {
    val ok = runs.filter(_.err.isEmpty)
    val qs = runs.map(r => jsonStr(r.name) + ":" +
        (if (r.err.isDefined) "null" else warmMedian(r).toString))
      .mkString("{", ",", "}")
    val cold = runs.map(r => jsonStr(r.name) + ":" +
        (if (r.err.isDefined) "null" else r.coldSec.toString))
      .mkString("{", ",", "}")
    val errs = runs.filter(_.err.isDefined)
      .map(r => jsonStr(r.name) + ":" + jsonStr(r.err.get))
      .mkString("{", ",", "}")
    val compiles = runs.map(r => jsonStr(r.name) + ":" +
        r.compiles.mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val total = ok.map(warmMedian).sum
    val totalCold = ok.map(_.coldSec).sum
    s"""{"metric":"total","value":$total,"unit":"sec","mode":"steady","warm_reps":$warmReps,"total_cold":$totalCold,"queries":$qs,"cold":$cold,"errors":$errs,"codegen_compiles":$compiles,${envJson()},"sf":${jsonStr(sfDir)}}"""
  }

  /** Print the one-line JSON (the driver contract) AND write it to
    * `bench_out.json`: round 17's PERF diff was blinded by a
    * truncated log-tail capture of the printed line — the file copy
    * makes the artifact parseable regardless of how stdout was
    * captured. Best-effort: a write failure must not fail the bench. */
  private def emit(json: String): Unit = {
    println(json)
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (json + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(_) => () }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.start(cpus)
    // Warm-up: JVM/JIT, parquet footer caches, codegen compilation —
    // so the first timed query doesn't absorb cold-start cost and
    // numbers are comparable across rounds.
    Seq("lineitem", "part", "documents", "embeddings", "orders")
      .foreach(t => Tables(spark, sfDir, t).count())
    // SPARK_GRAFT_BENCH_WARM=N > 0 switches to steady-state mode:
    // cold + N warm repetitions per query, warm-median headline.
    // Default (unset/0) keeps the single-shot contract the driver
    // consumes.
    val warmReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "0").toInt
    // SPARK_GRAFT_BENCH_ONLY=prefix[,prefix...] restricts the suite
    // (local iteration only; the driver never sets it).
    val queries = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(p) =>
        val ps = p.split(',').toSeq
        SparkEntry.queries.filter { case (k, _) =>
          ps.exists(k.startsWith)
        }
      case None => SparkEntry.queries
    }
    val failed = if (warmReps > 0) {
      val runs = runSteady(spark, sfDir, queries, warmReps)
      emit(renderSteadyJson(runs, sfDir, warmReps))
      runs.exists(_.err.isDefined)
    } else {
      val runs = run(spark, sfDir, queries)
      emit(renderJson(runs, sfDir))
      runs.exists(_.err.isDefined)
    }
    spark.stop()
    // A failed query is a failed bench: surface it in the exit code so
    // the driver can't mistake a stack unwind for a fast success.
    if (failed) sys.exit(1)
  }
}
