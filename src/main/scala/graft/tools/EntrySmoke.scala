package graft.tools

/** Runs the flagship smoke: `SparkEntry.entry` returns rows (`ENTRY_ROWS` > 0).
  * Usage: runMain graft.tools.EntrySmoke */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create()
    val df = graft.SparkEntry.entry(spark)
    df.show(5, false)
    println(s"ENTRY_ROWS=${df.count()}")
    spark.stop()
  }
}
