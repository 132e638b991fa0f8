package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Per-round fixed-cost floor probe for iterative loop interiors
  * (dev tool): measures the wall cost of N rounds of the atomic
  * shapes every engine loop is made of — agg-only, project+
  * checkpoint+agg, join+checkpoint+agg — over a node-scale frame,
  * at a given width/AQE setting. The result is the floor any loop
  * optimization is converging toward. Usage:
  *   runMain graft.tools.LoopFloor [rows] [rounds]
  * env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE, SPARK_GRAFT_AQE
  */
object LoopFloor {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(9000L)
    val rounds = args.drop(1).headOption.map(_.toInt).getOrElse(40)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.start(cpus,
      "spark.sql.shuffle.partitions" ->
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "1"),
      "spark.sql.adaptive.enabled" ->
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
    val shim = org.apache.spark.sql.graftshim.ColumnBridge
    val base = spark.range(rows).select(col("id").as("node"),
      (col("id") % 97).as("pr")).localCheckpoint()
    val edges = spark.range(rows).select(col("id").as("src"),
      ((col("id") * 7) % rows).as("dst")).localCheckpoint()
    def bench(tag: String)(round: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Unit = {
      var cur = base
      val t0 = System.nanoTime()
      (1 to rounds).foreach { _ =>
        val next = round(cur).localCheckpoint(false)
        next.agg(sum(col("pr"))).head
        if (!(cur eq base)) shim.freeLocalCheckpoint(cur)
        cur = next
      }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[floor] $tag: ${dt / rounds * 1000}%.0f ms/round " +
        f"(total $dt%.1f s, $rounds rounds, $rows rows)")
      if (!(cur eq base)) shim.freeLocalCheckpoint(cur)
    }
    // warm
    bench("warmup")(df => df.select(col("node"), (col("pr") + 1).as("pr")))
    bench("project-only")(df =>
      df.select(col("node"), (col("pr") + 1).as("pr")))
    var i = 0
    bench("project-varying-literal") { df =>
      i += 1
      df.select(col("node"), (col("pr") + i).as("pr"))
    }
    bench("join-agg") { df =>
      val contrib = edges.join(df, edges("src") === df("node"))
        .groupBy(col("dst")).agg(sum(col("pr")).as("c"))
      df.join(contrib, df("node") === contrib("dst"), "left")
        .select(col("node"), (col("pr") + coalesce(col("c"), lit(0L)))
          .as("pr"))
    }
    // agg-only floor: no checkpoint churn at all
    val t0 = System.nanoTime()
    (1 to rounds).foreach(_ => base.agg(sum(col("pr"))).head)
    println(f"[floor] agg-only: ${(System.nanoTime() - t0) / 1e9 / rounds * 1000}%.0f ms/round")
    spark.stop()
  }
}
