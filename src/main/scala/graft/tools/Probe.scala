package graft.tools

import graft.GraftSession

/** Ad-hoc plan/timing probe used during development; not part of the
  * driver contract. Usage: runMain graft.tools.Probe <name> [sfDir]
  * — times the named query and prints its formatted physical plan.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.start(cpus)
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[probe] run$i $name rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
