package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start("4")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
