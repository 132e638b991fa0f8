package graft.tools

import graft.GraftSession

object TimeQ {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start("32")
    val t0 = System.nanoTime()
    val n = graft.SparkEntry.queries(args(0))(spark, args(1)).count()
    println(f"TIMEQ ${args(0)} rows=$n cold=${(System.nanoTime()-t0)/1e9}%.1f s")
    spark.stop()
  }
}
