package graft

import graft.expressions.native
import graft.nested.{NestedExpr, NestedOps}
import graft.sources.NestedParquet
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** The PackReduce groupjoin rewrite, differentially: every chain runs with
  * the rule and with it excluded through `spark.sql.optimizer.excludedRules`,
  * and must give the same rows. Plan-shape cases pin where it fires (no
  * `collect_list`, no key repartition, one exchange) and where it must leave
  * the plan exactly as it was. */
class PackReduceSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val Excluded = "spark.sql.optimizer.excludedRules"

  private def withoutRule[T](body: => T): T = {
    spark.conf.set(Excluded, "graft.nested.PackReduce")
    try body finally spark.conf.unset(Excluded)
  }

  private def packs(plan: LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[CollectList])))

  private def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toString)

  /** Value equality with NaN equal to NaN, and doubles equal to 1e-12
    * relative: a packed cell's element order is shuffle-arrival order, so
    * a mean over it and the partial-aggregate mean may add the same values
    * in another order. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => (x.isNaN && y.isNaN) || x == y ||
      math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
    case (x: Row, y: Row) => x.length == y.length &&
      (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x: collection.Seq[_], y: collection.Seq[_]) => x.length == y.length &&
      x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** Rows of `build` with the rule, after checking that the rule fired (or
    * not) and that the rows equal those of the plan without it. */
  private def sameBothWays(fires: Boolean)(build: => DataFrame): Seq[Row] = {
    val df = build
    assert(packs(df.queryExecution.optimizedPlan) != fires,
      df.queryExecution.optimizedPlan.toString)
    val on = sorted(df.collect().toSeq)
    val off = withoutRule {
      val d = build
      assert(packs(d.queryExecution.optimizedPlan))
      sorted(d.collect().toSeq)
    }
    assert(same(on, off), s"with rule:\n${on.mkString("\n")}\nwithout:\n" +
      off.mkString("\n"))
    on
  }

  // id 3 has no children, every child of id 2 is flagged, id 4 holds a
  // NaN and a null magnitude, and child key 5 has no base row.
  private lazy val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, -50.0))
    .toDF("id", "dec")
  private lazy val obs = Seq[(Long, String, Option[Double], Int)](
    (1L, "g", Some(15.0), 0), (1L, "g", Some(16.5), 0),
    (1L, "r", Some(14.25), 0), (1L, "i", Some(18.0), 1),
    (2L, "g", Some(12.0), 1), (2L, "r", Some(13.0), 1),
    (4L, "g", Some(Double.NaN), 0), (4L, "r", None, 0),
    (4L, "i", Some(1.0), 0), (5L, "g", Some(9.0), 0))
    .toDF("id", "band", "mag", "flag")

  /** Every recognized reducer over cell `lc`. */
  private def reduced(packed: DataFrame): DataFrame =
    NestedOps.countNested(packed, "lc", Some("band"), Seq("g", "r", "i"))
      .select(col("id"), size(col("lc")).as("size"),
        coalesce(size(col("lc")), lit(0)).as("n"),
        col("n_lc_g"), col("n_lc_r"), col("n_lc_i"),
        NestedOps.elementMean("lc", "mag").as("mean"),
        NestedOps.elementSum("lc", "mag").as("esum"),
        NestedOps.elementMin("lc", "mag").as("min"),
        NestedOps.elementMax("lc", "mag").as("max"),
        native.field_reduce(col("lc"), "mag", "minskipnan").as("min_nn"),
        native.field_reduce(col("lc"), "mag", "maxskipnan").as("max_nn"),
        native.field_reduce(col("lc"), "mag", "nullcount").as("mag_nulls"),
        NestedOps.elementMin("lc", "band").as("band_min"),
        NestedOps.elementMax("lc", "band").as("band_max"))

  private def byId(rows: Seq[Row]): Map[Long, Row] =
    rows.map(r => r.getLong(0) -> r).toMap

  test("a base row with no children: NULL cell vs 0 count, per join type") {
    for (how <- Seq("left", "inner", "outer", "right")) {
      val rows = byId(sameBothWays(fires = true)(
        reduced(NestedOps.joinNested(base, obs, Seq("id"), "lc", how))))
      val r1 = rows(1L)
      assert(r1.getAs[Int]("n") == 4 && r1.getAs[Int]("n_lc_g") == 2, r1)
      assert(r1.getAs[String]("band_min") == "g" &&
        r1.getAs[String]("band_max") == "r", r1)
      if (how == "left" || how == "outer") {
        val r3 = rows(3L)
        assert(r3.getAs[Int]("n") == 0 && r3.getAs[Int]("n_lc_g") == 0, r3)
        assert(r3.isNullAt(r3.fieldIndex("mean")) &&
          r3.isNullAt(r3.fieldIndex("esum")) &&
          r3.isNullAt(r3.fieldIndex("mag_nulls")), r3)
      } else assert(!rows.contains(3L))
      assert(rows.contains(5L) == (how == "outer" || how == "right"), how)
    }
  }

  test("a cell whose elements are all filtered out") {
    val packed = NestedOps.joinNested(base, obs, Seq("id"), "lc")
    for (filtered <- Seq(
        NestedOps.filterElements(packed, "lc", e => e.getField("flag") === 0),
        NestedExpr.query(packed, "lc.flag == 0"),
        // two filters in a row narrow the same cell
        NestedExpr.query(NestedExpr.query(packed, "lc.flag == 0"),
          "lc.band != 'i'"))) {
      val rows = byId(sameBothWays(fires = true)(reduced(filtered)))
      val r2 = rows(2L)
      assert(r2.isNullAt(r2.fieldIndex("size")) ||
        r2.getAs[Int]("size") == -1, r2)
      assert(r2.getAs[Int]("n") == 0 && r2.getAs[Int]("n_lc_r") == 0, r2)
      assert(r2.isNullAt(r2.fieldIndex("mean")) &&
        r2.isNullAt(r2.fieldIndex("min")) &&
        r2.isNullAt(r2.fieldIndex("band_max")), r2)
      assert(rows(1L).getAs[Int]("n_lc_i") == 0, rows(1L))
    }
  }

  test("NaN and null inside a mean; min/max over strings") {
    val rows = byId(sameBothWays(fires = true)(
      reduced(NestedOps.joinNested(base, obs, Seq("id"), "lc"))))
    val r4 = rows(4L)
    assert(r4.getAs[Double]("mean").isNaN && r4.getAs[Double]("esum").isNaN, r4)
    assert(r4.getAs[Double]("max").isNaN && r4.getAs[Double]("min") == 1.0, r4)
    assert(r4.getAs[Double]("min_nn") == 1.0 &&
      r4.getAs[Double]("max_nn") == 1.0, r4)
    assert(r4.getAs[Int]("mag_nulls") == 1, r4)
    assert(r4.getAs[String]("band_min") == "g" &&
      r4.getAs[String]("band_max") == "r", r4)
    assert(rows(1L).getAs[Double]("mean") == (15.0 + 16.5 + 14.25 + 18.0) / 4)
  }

  test("a null by-value still raises through countNested's guard") {
    val withNull = obs.union(Seq[(Long, String, Option[Double], Int)](
      (1L, null, Some(1.0), 0)).toDF("id", "band", "mag", "flag"))
    def build = reduced(NestedOps.joinNested(base, withNull, Seq("id"), "lc"))
    assert(!packs(build.queryExecution.optimizedPlan))
    for (run <- Seq(() => build.collect(),
                    () => withoutRule(build.collect()))) {
      val e = intercept[Exception](run())
      assert(e.getMessage.contains("null values in by-column 'band'"), e)
    }
  }

  test("the rule declines a decimal mean and keeps its result") {
    val dec = obs.withColumn("mag", col("mag").cast("decimal(10,2)"))
    sameBothWays(fires = false)(NestedOps.joinNested(base, dec, Seq("id"), "lc")
      .select(col("id"), NestedOps.elementMean("lc", "mag").as("mean")))
  }

  /** A light-curve chain over parquet inputs, the bench's shape. */
  private lazy val lcDir = {
    val dir = java.nio.file.Files.createTempDirectory("packreduce").toString
    spark.range(0, 400).select(col("id").as("object_id"),
        (col("id") % 180 - 90).cast("double").as("dec"))
      .repartition(4).write.parquet(s"$dir/objects")
    spark.range(0, 400 * 30).select((col("id") % 400).as("object_id"),
        element_at(array(lit("g"), lit("r"), lit("i")),
          (col("id") % 3 + 1).cast("int")).as("band"),
        (col("id") % 97 / 8.0 + 12).as("mag"),
        (col("id") % 7 / 8.0).as("mag_err"),
        (col("id") % 10 === 0).cast("int").as("flag"))
      .repartition(4).write.parquet(s"$dir/observations")
    dir
  }

  private def lightcurve(): DataFrame = {
    val lc = NestedOps.joinNested(spark.read.parquet(s"$lcDir/objects"),
      spark.read.parquet(s"$lcDir/observations"), Seq("object_id"), "lc")
    val north = NestedExpr.query(lc, "dec > -30")
    val good = NestedExpr.query(north, "lc.mag_err < 0.5 and lc.flag == 0")
    val counted = NestedOps.countNested(good, "lc", Some("band"),
      Seq("g", "r", "i"))
    NestedExpr.query(counted, "n_lc_g >= 3 and n_lc_r >= 3")
      .select(col("object_id"), col("n_lc_g"), col("n_lc_r"), col("n_lc_i"),
        NestedOps.elementMean("lc", "mag").as("mag_mean"),
        NestedOps.elementMin("lc", "mag").as("mag_min"),
        NestedOps.elementMax("lc", "mag").as("mag_max"))
  }

  private def shuffles(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s }.size

  private def assertGroupjoin(df: DataFrame): Unit = {
    val plan = df.queryExecution.optimizedPlan
    assert(!packs(plan), plan)
    assert(!plan.exists(_.isInstanceOf[RepartitionByExpression]), plan)
    assert(df.collect().nonEmpty)
    assert(shuffles(df) == 1, df.queryExecution.executedPlan)
  }

  test("plan shape: the light-curve chain runs as one keyed aggregate") {
    val df = lightcurve()
    assertGroupjoin(df)
    sameBothWays(fires = true)(lightcurve())
  }

  test("plan shape: SparkEntry.entry runs as one keyed aggregate") {
    assertGroupjoin(SparkEntry.entry(spark))
    sameBothWays(fires = true)(SparkEntry.entry(spark))
  }

  test("plan shape: untouched when the array itself is used") {
    def packed = NestedOps.joinNested(base, obs, Seq("id"), "lc")
    def queried = NestedExpr.query(packed, "lc.flag == 0")
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "packed column in the output" -> (() => queried),
      "writeStructOfList" -> (() => NestedParquet.toStructOfList(queried)),
      "toFlat" -> (() => NestedOps.toFlat(queried, "lc", Seq("id"))),
      "sortElements" -> (() =>
        NestedOps.sortElements(queried, "lc", Seq(("mag", true)))),
      "median" -> (() => queried.select(col("id"),
        native.field_reduce(col("lc"), "mag", "median").as("med"))))
    for ((what, build) <- cases) {
      val df = build()
      val on = df.queryExecution.optimizedPlan
      val off = withoutRule(
        spark.sessionState.executePlan(df.queryExecution.analyzed)
          .optimizedPlan)
      assert(packs(on), s"$what:\n$on")
      assert(on.canonicalized == off.canonicalized,
        s"$what:\nwith rule:\n$on\nwithout:\n$off")
      sameBothWays(fires = false)(build())
    }
  }

  test("fromFlat packs reduce like joinNested packs") {
    val flat = obs.join(base, Seq("id"))
    sameBothWays(fires = true)(reduced(NestedOps.fromFlat(flat, Seq("dec"),
      Seq("band", "mag", "flag"), Seq("id"), "lc")))
  }
}
