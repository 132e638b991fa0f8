package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Stage-level timing for the LSH dedup family (dev tool): signature
  * chain, pair generation, CC loop — each materialized separately so
  * the one-time artifact costs are attributable. */
object ProbeStages {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.start(cpus)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stage] $label t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sig = t("signatures (row-local)")(
      graft.llm.DedupIndex.signatures(docs).localCheckpoint())
    t("sig count")(println("  sigs=" + sig.count()))
    val bands = graft.llm.DedupIndex.bandsOf(sig)
    val pairs = t("pairs materialize")(
      graft.llm.LlmQueries.pairsFromBands(bands).localCheckpoint())
    t("pairs count")(println("  pairs=" + pairs.count()))
    val cc = t("cc loop")(graft.llm.LlmQueries.ccFromPairs(pairs))
    t("cc count")(println("  labels=" + cc.count()))
    spark.stop()
  }
}
