package graft.llm
// (lives beside the tools mains; llm package for private[llm] access)

import graft.GraftSession

/** Stage-level timing for the suffix-array family (dev tool): times
  * each stored artifact build separately so the heavy level is
  * attributable. Usage: runMain graft.tools.SaProbe [sfDir] */
object SaProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.start(cpus,
      "spark.sql.shuffle.partitions" ->
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus),
      "spark.serializer" ->
        (if (sys.env.contains("SPARK_GRAFT_KRYO"))
          "org.apache.spark.serializer.KryoSerializer"
        else "org.apache.spark.serializer.JavaSerializer"))
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[sa] $label t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    import SuffixArray._
    t("positions")(println("  n=" + positions(spark, sfDir).count()))
    Seq(2, 4, 8, 16, 32).foreach { d =>
      t(s"rank$d")(rankLevel(spark, sfDir, d).count())
    }
    t("saRanked")(saRanked(spark, sfDir).count())
    t("exactSubstr consumer")(
      graft.SparkEntry.queries("llm_exact_substr")(spark, sfDir).count())
    t("lcpHistogram consumer")(
      graft.SparkEntry.queries("llm_sa_lcp")(spark, sfDir).count())
    spark.stop()
  }
}
