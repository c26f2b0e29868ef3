package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: `local[cores]` with shuffle
  * partitions sized to the cores (not the 200 default), UTC, parquet
  * TIMESTAMP(NANOS) read as epoch-ns longs, no UI, and the
  * [[GraftExtensions]] (graft_* SQL functions + the PackReduce rule)
  * installed from the first query on.
  *
  * `SPARK_GRAFT_CPUS` sets the cores of every main (default 4). */
object GraftSession {
  val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The shared configuration, for callers that add deployment settings
    * (a warehouse path, an app name) before `getOrCreate()`. */
  def builder(n: Int = cores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  def create(): SparkSession = quiet(builder().getOrCreate())

  /** Spark's INFO chatter off: mains print their own results. */
  def quiet(spark: SparkSession): SparkSession = {
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
