package graft.tools

import graft.GraftSession

/** Generates the 10x rehearsal corpus (ScaleRehearsal's fixture)
  * without running the full rehearsal — for capped-heap probes.
  * Usage: runMain graft.tools.GenScale [outDir] */
object GenScale {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-sf1")
    val spark = GraftSession.start("32")
    ScaleRehearsal.generate(spark, "/root/testdata/sf0.1", out)
    println(s"[genscale] wrote $out")
    spark.stop()
  }
}
