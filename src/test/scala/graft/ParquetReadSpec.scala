package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.util.{Failure, Success, Try}
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.NestedParquet

/** `NestedParquet.readParquet` resolves the schema from one footer on the
  * driver. On every input here it must give what `spark.read.parquet` gives:
  * the same schema, nullability included, and the same rows (EXCEPT ALL
  * both ways empty), or an error of the same class. The footer-pick inputs
  * come from tools/gen_reference_fixtures.py. */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private val Pick = "src/test/resources/schema_pick"
  private val Reference = "src/test/resources/reference"

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The exception class and, for Spark's own errors, the error condition. */
  private def errorClass(t: Throwable): (Class[_], Option[String]) =
    (t.getClass, t match {
      case s: SparkThrowable => Option(s.getCondition)
      case _                 => None
    })

  /** Asserts the helper's read of `path` equals Spark's and returns it: the
    * schema, or the error class when both fail. */
  private def sameAsSpark(path: String): Either[(Class[_], Option[String]), StructType] = {
    def outcome(read: => DataFrame): Try[DataFrame] =
      Try { val df = read; df.collect(); df }
    (outcome(spark.read.parquet(path)),
     outcome(NestedParquet.readParquet(spark, path))) match {
      case (Success(expected), Success(actual)) =>
        assert(actual.schema == expected.schema,
          s"$path\nhelper: ${actual.schema.treeString}\n" +
            s"spark:  ${expected.schema.treeString}")
        assert(actual.exceptAll(expected).isEmpty, path)
        assert(expected.exceptAll(actual).isEmpty, path)
        Right(actual.schema)
      case (Failure(expected), Failure(actual)) =>
        assert(errorClass(actual) == errorClass(expected),
          s"$path\nhelper: $actual\nspark:  $expected")
        Left(errorClass(actual))
      case (expected, actual) =>
        fail(s"$path\nhelper: $actual\nspark:  $expected")
    }
  }

  /** Spark jobs started while `body` runs. A marker job after it goes
    * through the same listener queue, so once the listener has seen the
    * marker it has seen every job `body` started. */
  private def jobsDuring(body: => Unit): Int = {
    val marker = "parquet-read-spec-marker"
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains(marker), "the listener never saw the marker job")
      started.size - 1
    } finally sc.removeSparkListener(listener)
  }

  test("schema and rows equal Spark's on the reference fixtures") {
    Seq("test_data/nested.parquet", "test_data/not_nestable.parquet",
        "test_data/vsx-x-ztfdr22_lc-m31.parquet",
        "fixed_size_list_data/fixed-size-list-struct.parquet",
        "fixed_size_list_data/mmu-desi.parquet").foreach { f =>
      assert(sameAsSpark(s"$Reference/$f").isRight, f)
    }
  }

  test("_common_metadata is preferred to _metadata and to the data footers") {
    val schema = sameAsSpark(s"$Pick/summary")
    assert(schema.map(_.fieldNames.toSeq) == Right(Seq("id", "x", "c_only")))
  }

  test("diverging data footers: the first data file by path, hidden files skipped") {
    val schema = sameAsSpark(s"$Pick/diverging")
    assert(schema.map(_.fieldNames.toSeq) == Right(Seq("id", "x", "from_a")))
  }

  test("a Spark-written partitioned directory keeps its partition columns") {
    val dir = tempDir("partitioned") + "/t"
    Seq((1, "a", 0L, 0.5), (1, "b", 1L, 1.5), (2, "a", 2L, 2.5), (2, "a", 3L, 3.5))
      .toDF("k", "s", "id", "x")
      .write.partitionBy("k", "s").parquet(dir)
    assert(Files.isDirectory(Paths.get(dir, "k=1")) &&
      Files.isDirectory(Paths.get(dir, "k=2")))
    val schema = sameAsSpark(dir)
    assert(schema.map(_.map(f => f.name -> f.dataType)) == Right(Seq(
      "id" -> LongType, "x" -> DoubleType, "k" -> IntegerType,
      "s" -> StringType)))
  }

  test("a glob path and a data column named like a partition column read as Spark's") {
    val root = tempDir("fallbacks")
    Seq((1L, "one")).toDF("id", "a").write.parquet(s"$root/lit[1]")
    Seq((1L, 2.0)).toDF("id", "b").write.parquet(s"$root/lit1")
    // Spark expands the pattern to lit1, not the directory named lit[1]
    val glob = sameAsSpark(s"$root/lit[1]")
    assert(glob.map(_.fieldNames.toSeq) == Right(Seq("id", "b")))
    // Spark keeps k in its data position, before id
    Seq((7, 1L)).toDF("k", "id").write.parquet(s"$root/part/k=1")
    val overlap = sameAsSpark(s"$root/part")
    assert(overlap.map(_.fieldNames.toSeq) == Right(Seq("k", "id")))
  }

  test("session parquet flags change the schema the same way on both reads") {
    val files = Seq("int96", "nanos", "micros").map(f => s"$Pick/types/$f.parquet")
    Seq("spark.sql.parquet.binaryAsString",
        "spark.sql.parquet.int96AsTimestamp",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.legacy.parquet.nanosAsLong").foreach { key =>
      val outcomes = Seq("true", "false").map { v =>
        withConf(key, v) { files.map(sameAsSpark) }
      }
      assert(outcomes.distinct.size == 2, s"$key changed no outcome: $outcomes")
    }
  }

  test("an empty directory and a truncated footer raise Spark's error class") {
    val empty = tempDir("emptydir")
    assert(sameAsSpark(empty).isLeft)
    val truncated = tempDir("truncated")
    val bytes = Files.readAllBytes(Paths.get(s"$Pick/diverging/a.parquet"))
    Files.write(Paths.get(truncated, "part-0.parquet"),
      bytes.take(bytes.length - 12))
    assert(sameAsSpark(truncated).isLeft)
  }

  test("with mergeSchema on, the schema is Spark's merged schema") {
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val schema = sameAsSpark(s"$Pick/diverging")
      assert(schema.map(_.fieldNames.toSet) ==
        Right(Set("id", "x", "from_a", "from_b")))
    }
  }

  test("every read resolves the footer again: a rewritten directory is seen") {
    val dir = tempDir("rewritten") + "/t"
    Seq((1L, 0.5)).toDF("id", "x").write.parquet(dir)
    assert(NestedParquet.readParquet(spark, dir).columns.toSeq == Seq("id", "x"))
    Seq((1L, "y")).toDF("id", "y").write.mode("overwrite").parquet(dir)
    assert(NestedParquet.readParquet(spark, dir).columns.toSeq == Seq("id", "y"))
  }

  test("readCompat and its schema launch no Spark job on a 16-file directory") {
    val dir = tempDir("sixteen") + "/t"
    spark.range(0, 1600).select(col("id"), (col("id") * 0.5).as("x"),
        array(struct(col("id").as("a"))).as("nested"))
      .repartition(16).write.parquet(dir)
    val parts = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    assert(parts == 16)
    var df: DataFrame = null
    assert(jobsDuring { df = NestedParquet.readCompat(spark, dir) } == 0)
    assert(jobsDuring { df.schema } == 0)
    assert(df.columns.toSeq == Seq("id", "x", "nested"))
  }
}
