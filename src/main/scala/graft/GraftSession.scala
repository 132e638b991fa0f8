package graft

import org.apache.spark.sql.SparkSession

/** The engine's local session, shared by every main: `local[cores]`
  * with `cores` shuffle partitions, UTC, no UI, [[GraftExtensions]],
  * nanosecond parquet timestamps read as longs (see
  * [[Tables.normalizeTs]]) and WARN logging. `conf` holds a tool's own
  * settings; a key there overrides the shared value. */
object GraftSession {
  def start(cores: String, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
