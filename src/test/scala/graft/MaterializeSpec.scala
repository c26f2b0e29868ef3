package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, monotonically_increasing_id, udf}
import graft.operators.Dedup

class MaterializeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private def sc = spark.sparkContext
  private def persistedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
  private def cacheEmpty: Boolean = spark.asInstanceOf[classic.SparkSession]
    .sharedState.cacheManager.isEmpty

  /** `n` rows whose every evaluation bumps the returned accumulator. */
  private def counted(n: Long) = {
    val evals = sc.longAccumulator
    val bump = udf((x: Long) => { evals.add(1); x })
    (spark.range(n).select(bump(col("id")).as("id")), evals)
  }

  test("apply runs its job during the call") {
    val (df, evals) = counted(100)
    val m = Materialize(df)
    assert(evals.value == 100)
    assert(m.count() == 100 && evals.value == 100)
  }

  test("apply's plan scans the stored rows, not the source") {
    val m = Materialize(spark.range(0, 500, 1, 4).toDF("id"))
    val leaves = collect(m.queryExecution.executedPlan) {
      case p if p.children.isEmpty => p }
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[RDDScanExec]),
      leaves.map(_.nodeName).mkString(", "))
    assert(Materialize.rowCount(m) == 500)
  }

  test("a nondeterministic id reads the same through two branches") {
    val coin = udf(() => scala.util.Random.nextBoolean()).asNondeterministic()
    val m = Materialize(spark.range(0, 2000, 1, 4).where(coin())
      .withColumn("mid", monotonically_increasing_id()))
    val left = m.select(col("mid"), col("id"))
    val right = m.where(col("mid") >= 0)
      .select(col("mid"), col("id").as("id2"))
    val joined = left.join(right, "mid")
    assert(joined.count() == m.count())
    assert(joined.where(col("id") =!= col("id2")).isEmpty)
  }

  test("chained self-join rounds keep measured, bounded statistics") {
    var cur = Materialize(spark.range(1000).toDF("k"))
    (1 to 12).foreach(_ => cur = Materialize(cur.join(cur, "k")))
    val stats = cur.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes < BigInt(2).pow(40), stats.sizeInBytes)
    assert(stats.rowCount.contains(BigInt(1000)))
  }

  test("within releases its frame after a normal exit and after a throw") {
    spark.catalog.clearCache()
    val ids0 = persistedIds
    val df = spark.range(0, 300, 1, 3).toDF("id")
    val n = Materialize.within(df) { d =>
      assert(!cacheEmpty)
      d.count()
    }
    assert(n == 300)
    assert(persistedIds -- ids0 == Set.empty && cacheEmpty)
    intercept[IllegalStateException](Materialize.within(df) { d =>
      d.count()
      throw new IllegalStateException("body failed")
    })
    assert(persistedIds -- ids0 == Set.empty && cacheEmpty)
  }

  test("a lazy frame built inside within reads the same rows after it") {
    spark.catalog.clearCache()
    val ids0 = persistedIds
    val df = spark.range(0, 300, 1, 3).toDF("id")
    val inside: DataFrame = Materialize.within(df) { d =>
      d.count()
      d.where(col("id") % 7 === 0).select((col("id") * 2).as("x"))
    }
    val got = inside.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 300L by 7L).map(_ * 2))
    assert(persistedIds -- ids0 == Set.empty && cacheEmpty)
  }

  test("a long stars run holds at most one round's storage at the end") {
    // a chain in shuffled id order needs many contraction rounds
    val order = new scala.util.Random(11).shuffle((0L until 4096L).toVector)
    import spark.implicits._
    val edges = order.sliding(2).map { case Seq(a, b) => (a, b) }.toSeq
      .toDF("a", "b")
    intercept[IllegalStateException](
      Dedup.connectedComponentsStars(edges, maxIter = 9))
    val ids0 = persistedIds
    val cc = Dedup.connectedComponentsStars(edges, maxIter = 30)
    assert((persistedIds -- ids0).size <= 1, persistedIds -- ids0)
    assert(cc.select("component").distinct().as[Long].collect().toSeq ==
      Seq(0L))
  }
}
