package graft.llm
// (lives beside the tools mains; llm package for private[llm] access)

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Dev probe: does the block-clustered checkpoint's pinned
  * partitioning/ordering actually elide the window sort and the
  * zipper-join exchanges? Prints the formatted physical plans of a
  * lead-window pass and a (block, gpos) self merge-join over the
  * positions checkpoint. Usage: runMain graft.tools.SaPlanProbe [sfDir]
  */
object SaPlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.start(cpus,
      "spark.sql.shuffle.partitions" ->
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus),
      "spark.sql.adaptive.enabled" ->
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
    val shim = org.apache.spark.sql.graftshim.ColumnBridge
    def mk() = spark.range(100000)
      .select((col("id") % 50).as("block"), col("id").as("gpos"))
      .repartition(8, col("block"))
      .sortWithinPartitions("block", "gpos")
    println("[layout] AQE-on  localCheckpoint(true, DISK): " +
      shim.checkpointLayout(mk().localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)))
    graft.LoopConf.noAqe(spark) {
      println("[layout] AQE-off localCheckpoint(true, DISK): " +
        shim.checkpointLayout(mk().localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)))
    }
    val pos = SuffixArray.positions(spark, sfDir)
    println("=== queryExecution of positions checkpoint (expect " +
      "Scan ExistingRDD only) ===")
    println(pos.queryExecution.executedPlan.toString.take(2000))
    val w = Window.partitionBy("block").orderBy("gpos")
    val led = pos.select(col("block"), col("gpos"), col("code"))
      .withColumn("s", lead(col("code"), 1).over(w))
    println("=== window over pinned checkpoint (expect NO Exchange, " +
      "NO Sort) ===")
    led.explain("formatted")
    val l = pos.select(col("block"), col("gpos"), col("code"))
    val r = pos.select(col("block"), col("gpos"),
      col("code").as("code2"))
    println("=== zipper self-join on (block, gpos) (expect NO " +
      "Exchange, NO Sort) ===")
    l.join(r.hint("merge"), Seq("block", "gpos")).explain("formatted")
    spark.stop()
  }
}
