package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for all specs (Spark startup is ~5 s;
  * per-suite sessions would dominate test time): the engine's
  * [[GraftSession]] at `local[2]` with 2 shuffle partitions, so specs
  * run with the shipped confs and log at WARN. */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.start("2", "spark.app.name" -> "graft-test")

  /** Triple-table DataFrame from flat tuples in Model.columns order
    * (nulls allowed in the two trailing nullable columns). */
  def triples(rows: Seq[(String, String, String, String, String, String,
      String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF(graft.rdf.Model.columns: _*)
  }
}
