package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds the session, runs one workload and
  * writes a raw record (timings, listener counts, checks, spans) as
  * JSON. `perfbench/run.py` launches it, turns the record into metrics
  * and prints the result line.
  *
  * Arguments (all required, as `--key value`): workload, seed, seconds,
  * trace (0|1), data (the query tables), work (scratch directory),
  * out (record path), cores, launched-ns (epoch ns at process launch),
  * all-queries (0|1: every query of the four families, not the
  * workload's list).
  */
object Harness {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String, cores: Int,
      launchedNs: Long, allQueries: Boolean)

  /** The tables `graft.Bench.main` reads before timing. */
  val WarmupTables = Seq("lineitem", "part", "documents", "embeddings", "orders")
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // Set-up is repeated: the first one includes JVM start, the later
    // ones stop and rebuild the session in the same JVM.
    val setups = Seq.newBuilder[Double]
    var spark = startSession(a)
    setups += (nowNs() - a.launchedNs) / 1e9
    (2 to SetupReps).foreach { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = startSession(a)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val tracer = if (a.trace) Some(Tracer.attach(spark)) else None
    val gc0 = gcTotals()
    val body =
      try {
        a.workload match {
          case "etl_weekly" => EtlBench.run(spark, a, tracer)
          case "query_suite" => QueryBench.run(spark, a, tracer)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      } finally {
        tracer.foreach(_.drain(spark))
      }
    val gc1 = gcTotals()
    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> a.cores,
      "setup_s" -> setups.result(),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "jvm_gc_ms" -> (gc1._1 - gc0._1), "jvm_gc_count" -> (gc1._2 - gc0._2),
      "jvm_gc_total_ms" -> gc1._1, "jvm_gc_total_count" -> gc1._2,
      "body" -> body,
      "spark_groups" -> tracer.map(_.groups).getOrElse(Json.obj()),
      "spans" -> tracer.map(_.spansJson).getOrElse(Seq.empty[Any]))
    Files.writeString(Paths.get(a.out), Json.render(record))
    spark.stop()
  }

  def startSession(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    WarmupTables.foreach(t => graft.Tables(spark, a.data, t).count())
    spark
  }

  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** (total collection ms, total collection count) over all collectors. */
  def gcTotals(): (Long, Long) =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foldLeft((0L, 0L)) { case ((ms, n), b) =>
        (ms + math.max(0L, b.getCollectionTime),
          n + math.max(0L, b.getCollectionCount))
      }

  /** Block-manager storage held by persisted RDDs (memoized artifacts,
    * local checkpoints): (rdd count, bytes in memory + on disk). */
  def storage(spark: SparkSession): (Int, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (spark.sparkContext.getPersistentRDDs.size,
      infos.map(i => i.memSize + i.diskSize).sum)
  }

  private def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come as --key value pairs")
    val m = argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad argument $k"); k.drop(2) -> v
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"), m("cores").toInt,
      m("launched-ns").toLong, m.get("all-queries").contains("1"))
  }
}

/** Minimal JSON rendering for the record: maps, sequences, strings,
  * numbers, booleans, options. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kv: _*)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
