package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.rdf.{RdfOps, TripleFixture, Vocab}

/** Capped-heap probe for the relation-closure build algorithms at a
  * given scale — the sf1 rehearsal's OOM isolated to a 2-minute
  * repro: run BOTH the path-doubling walk and the frontier walk over
  * the same edge scan and report pairs + wall time. Usage:
  * {{{ java -Xmx3g ... graft.tools.ClosureProbe /tmp/graft-sf1 }}} */
object ClosureProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-sf1")
    val algos = args.drop(1).headOption.getOrElse("both")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.start(cpus,
      "spark.sql.shuffle.partitions" ->
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus),
      "spark.sql.adaptive.enabled" ->
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
    val edges = TripleFixture.triples(spark, dir)
      .filter(col("predicate") === Vocab.DctermsRelation &&
        col("obj_kind") === "iri")
      .select(col("subject").as("src"), col("obj_value").as("dst"))
    println(s"[probe] heap ${Runtime.getRuntime.maxMemory() / (1 << 20)}" +
      s" MB, edges ${edges.count()}")
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val pairs = f
      println(f"[probe] $tag: $pairs pairs in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    if (algos == "both" || algos == "doubling")
      time("doubling")(RdfOps.reachablePlusDoubling(edges).count())
    if (algos == "both" || algos == "frontier")
      time("frontier")(RdfOps.reachablePlus(edges,
        edges.select(col("src")).distinct()).count())
    if (algos == "both" || algos == "ladder")
      time("ladder")(RdfOps.reachablePlusPairs(edges,
        edges.select(col("src")).distinct()).count())
    if (algos == "both" || algos == "ladder-enc")
      time("ladder-enc")(RdfOps.reachablePlusPairsEncoded(edges,
        edges.select(col("src")).distinct()).count())
    spark.stop()
  }
}
