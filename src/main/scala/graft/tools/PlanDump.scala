package graft.tools

import java.io.{File, PrintWriter}

import graft.GraftSession


/** Dumps `.explain("formatted")` for named queries to files — the
  * before/after plan evidence for optimization rounds. Usage:
  *   runMain graft.tools.PlanDump <outDir> <suffix> <name>[,name...] [sfDir]
  * writes <outDir>/<name>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = new File(args(0)); outDir.mkdirs()
    val suffix = args(1)
    val names = args(2).split(',').toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.start(cpus)
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new PrintWriter(new File(outDir, s"${name}_$suffix.txt"))
      try w.write(txt) finally w.close()
      println(s"[plandump] wrote ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
