package graft.llm
// (beside SaProbe; llm package for private[llm] access)

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftSession

/** Micro-decomposition of the suffix-array build's per-stage cost
  * (dev tool): times the atomic operations the build is made of —
  * checkpoint read-back, repartition+sort, merge join, storage-level
  * variants — so the dominant constant is attributable before any
  * rewrite. Usage: runMain graft.llm.SaMicro [sfDir]
  */
object SaMicro {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.start(cpus)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[micro] $label t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    val pos = t("positions build")(SuffixArray.positions(spark, sfDir))
    t("pos count (warm read 1)")(pos.count())
    t("pos count (warm read 2)")(pos.count())
    t("pos agg sum (full-col read)")(
      pos.agg(sum(col("gpos")), sum(col("code"))).collect())
    val narrow = pos.select(col("gpos"), col("code").as("rank"))
    t("narrow chk DISK_ONLY")(
      narrow.localCheckpoint(true, StorageLevel.DISK_ONLY).count())
    t("narrow chk MEM_SER")(
      narrow.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER).count())
    t("narrow chk MEM_DESER")(
      narrow.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK).count())
    val rp = narrow.repartition(32, col("gpos"))
      .sortWithinPartitions("gpos")
    t("repart32+sort+chkDISK")(
      rp.localCheckpoint(true, StorageLevel.DISK_ONLY).count())
    val r1 = rp.localCheckpoint(true, StorageLevel.DISK_ONLY)
    t("chk re-read (count)")(r1.count())
    t("chk re-read (agg)")(r1.agg(sum(col("rank"))).collect())
    val shifted = r1.select((col("gpos") - 1).as("gpos"),
      col("rank").as("rank2"))
    t("merge self-join")(
      r1.join(shifted.hint("merge"), Seq("gpos"), "left").count())
    t("merge self-join again")(
      r1.join(shifted.hint("merge"), Seq("gpos"), "left").count())
    t("shuffle hash self-join")(
      r1.join(shifted.hint("shuffle_hash"), Seq("gpos"), "left").count())
    // join result checkpointed, the actual per-level shape
    t("merge join + chkDiskByGpos-shape")(
      r1.join(shifted.hint("merge"), Seq("gpos"), "left")
        .select(col("gpos"),
          (col("rank") * 130 + coalesce(col("rank2"), lit(-1L)) + 2)
            .as("rank"))
        .repartition(32, col("gpos")).sortWithinPartitions("gpos")
        .localCheckpoint(true, StorageLevel.DISK_ONLY).count())
    spark.stop()
  }
}
