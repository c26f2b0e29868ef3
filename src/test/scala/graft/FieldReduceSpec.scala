package graft

import graft.expressions.native
import graft.nested.NestedOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Differential replay: the native StructFieldReduce / StructFieldCountEq
  * kernels vs the exact HOF formulations they replaced (r13 optimization).
  * Every op is compared value-for-value — doubles by RAW BIT pattern, so
  * an accumulation-order or -0.0/NaN divergence fails, not just a large
  * numeric one — on adversarial cells: NULL array, empty array, null
  * structs, null fields, NaN, ±0.0, ±Infinity, mixed magnitudes, and a
  * deterministic fuzz sweep. Also covers int fields (promotion path) and
  * string fields (ordering + counteq path). */
class FieldReduceSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(1303)

  /** adversarial double pool */
  private val pool: Array[java.lang.Double] = Array(
    null, 0.0, -0.0, 1.5, -2.25, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, 1e300, -1e300, 1e-300, 42.0, -42.0,
    3.141592653589793, 2.5e-2)

  private def randCell(): Seq[Row] = {
    val n = rng.nextInt(8)
    Seq.fill(n) {
      if (rng.nextInt(12) == 0) null // null struct element
      else Row(
        pool(rng.nextInt(pool.length)),
        if (rng.nextInt(5) == 0) null else s"s${rng.nextInt(4)}",
        if (rng.nextInt(6) == 0) null else Int.box(rng.nextInt(10) - 5))
    }
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("items", ArrayType(StructType(Seq(
      StructField("q", DoubleType, nullable = true),
      StructField("f", StringType, nullable = true),
      StructField("i", IntegerType, nullable = true))), containsNull = true),
      nullable = true)))

  private lazy val df: DataFrame = {
    val fixed: Seq[Seq[Row]] = Seq(
      null, // NULL cell
      Seq.empty, // empty cell
      Seq(Row(null, null, null)), // all-null fields
      Seq(null, null), // only null structs
      Seq(Row(Double.NaN, "s0", Int.box(1))), // lone NaN
      Seq(Row(-0.0, "s1", Int.box(0)), Row(0.0, "s1", Int.box(0))), // signed zeros
      Seq(Row(Double.PositiveInfinity, "s2", Int.box(3)),
        Row(Double.NegativeInfinity, "s3", Int.box(-3))),
      Seq(Row(1e300, "s0", Int.box(2)), Row(1e300, "s0", Int.box(2))), // overflow in (a+b)
      Seq(Row(1.0, "s0", Int.box(1)), Row(2.0, "s0", Int.box(2)),
        Row(3.0, "s1", Int.box(3))))
    val rows = (fixed ++ Seq.fill(400)(randCell())).zipWithIndex.map {
      case (cell, i) => Row(i, if (cell == null) null else cell)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
  }

  /** pre-r13 HOF formulations, copied verbatim from git history */
  private def oldElementMean(nest: String, field: String): Column = {
    val acc = aggregate(col(nest),
      struct(lit(0L).as("n"), lit(0.0).as("s")),
      (a, e) => {
        val v = e.getField(field)
        when(v.isNotNull, struct((a.getField("n") + 1L).as("n"),
          (a.getField("s") + v).as("s"))).otherwise(a)
      })
    element_at(transform(array(acc), a =>
      when(a.getField("n") > 0, a.getField("s") / a.getField("n"))), 1)
  }
  private def oldElementSum(nest: String, field: String): Column =
    when(col(nest).isNotNull,
      aggregate(col(nest), lit(0.0),
        (acc, s) => acc + coalesce(s.getField(field), lit(0.0))))

  /** exact comparison: doubles by raw bits, everything else by equals */
  private def assertSame(dfc: DataFrame, opLabel: String): Unit = {
    val rows = dfc.select("id", "a", "b").collect()
    rows.foreach { r =>
      val (a, b) = (r.get(1), r.get(2))
      val same = (a, b) match {
        case (null, null) => true
        case (x: java.lang.Double, y: java.lang.Double) =>
          // NaN PAYLOAD is outside the comparison: the JLS promises only
          // "a NaN" for FP ops and C2 may swap add operands, so the HOF
          // form itself yields different payloads interpreted vs compiled
          // (observed: fff8… vs 7ff8…). Every Spark consumer normalizes
          // (hash via doubleToLongBits, orderings treat NaN==NaN); the
          // kernel canonicalizes. Non-NaN values compare by RAW BITS, so
          // -0.0 vs 0.0 or any ulp drift still fails.
          (x.isNaN && y.isNaN) ||
            java.lang.Double.doubleToRawLongBits(x) ==
              java.lang.Double.doubleToRawLongBits(y)
        case (x, y) => x == y
      }
      def bits(v: Any): String = v match {
        case x: java.lang.Double =>
          java.lang.Double.doubleToRawLongBits(x).toHexString
        case other => String.valueOf(other)
      }
      assert(same, s"$opLabel diverges at id=${r.getInt(0)}: " +
        s"native=$a[${bits(a)}] hof=$b[${bits(b)}] cell=" +
        df.where(col("id") === r.getInt(0)).select("items")
          .collect().headOption.map(_.get(0)).orNull)
    }
    assert(rows.nonEmpty)
  }

  test("elementReduction ops == HOF reductionSql (double field, bit-exact)") {
    Seq("count", "sum", "min", "max", "mean", "median", "std").foreach { op =>
      // std on a NULL array is the ONE deliberate edge change: the HOF
      // let-binding accidentally returned 0.0 there (greatest(0.0, null)
      // skips nulls); the kernel returns NULL, consistent with every
      // other op — compare on non-null cells and pin the new edge below
      val base = if (op == "std") df.where(col("items").isNotNull) else df
      assertSame(base.select(col("id"),
        native.field_reduce(col("items"), "q", op).as("a"),
        expr(CrossCheck.reductionSql("items", "q", op)).as("b")), s"q.$op")
    }
    // pinned: std of a NULL cell is NULL now (was an accidental 0.0)
    val stdOnNull = df.where(col("items").isNull).select(
      native.field_reduce(col("items"), "q", "std")).collect()
    assert(stdOnNull.nonEmpty && stdOnNull.forall(_.isNullAt(0)))
  }

  test("elementReduction ops == HOF reductionSql (int field promotion)") {
    Seq("count", "sum", "min", "max", "mean", "median", "std").foreach { op =>
      val base = if (op == "std") df.where(col("items").isNotNull) else df
      assertSame(base.select(col("id"),
        native.field_reduce(col("items"), "i", op).as("a"),
        expr(CrossCheck.reductionSql("items", "i", op)).as("b")), s"i.$op")
    }
  }

  test("elementMean/elementSum == pre-r13 folds (bit-exact)") {
    assertSame(df.select(col("id"),
      NestedOps.elementMean("items", "q").as("a"),
      oldElementMean("items", "q").as("b")), "elementMean")
    assertSame(df.select(col("id"),
      NestedOps.elementSum("items", "q").as("a"),
      oldElementSum("items", "q").as("b")), "elementSum")
  }

  test("min/max/esum/mean on string and int orderings == HOF forms") {
    // string min/max: generic-ordering kernel path
    Seq("min" -> array_min _, "max" -> array_max _).foreach { case (op, hof) =>
      assertSame(df.select(col("id"),
        native.field_reduce(col("items"), "f", op).as("a"),
        hof(transform(col("items"), s => s.getField("f"))).as("b")), s"f.$op")
      assertSame(df.select(col("id"),
        native.field_reduce(col("items"), "i", op).as("a"),
        hof(transform(col("items"), s => s.getField("i"))).as("b")), s"i.$op")
    }
  }

  test("minskipnan/maxskipnan/nacount == aggAllColumns per-row pieces") {
    def naToNull(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)
    assertSame(df.select(col("id"),
      native.field_reduce(col("items"), "q", "minskipnan").as("a"),
      array_min(transform(col("items"),
        e => naToNull(e.getField("q")))).as("b")), "minskipnan")
    assertSame(df.select(col("id"),
      native.field_reduce(col("items"), "q", "maxskipnan").as("a"),
      array_max(transform(col("items"),
        e => naToNull(e.getField("q")))).as("b")), "maxskipnan")
    assertSame(df.select(col("id"),
      (native.field_reduce(col("items"), "q", "nacount") > 0).as("a"),
      exists(col("items"),
        e => e.getField("q").isNull || isnan(e.getField("q"))).as("b")),
      "nacount>0")
    // non-floating nacount == nullcount == size(filter(isNull))
    assertSame(df.select(col("id"),
      native.field_reduce(col("items"), "f", "nacount").as("a"),
      size(filter(col("items"), s => s.getField("f").isNull)).as("b")),
      "nacount-str")
  }

  test("nullcount/counteq == countNested HOF pieces") {
    assertSame(df.select(col("id"),
      native.field_reduce(col("items"), "f", "nullcount").as("a"),
      size(filter(col("items"), s => s.getField("f").isNull)).as("b")),
      "nullcount")
    Seq("s0", "s1", "s2", "nope").foreach { v =>
      assertSame(df.select(col("id"),
        native.field_counteq(col("items"), "f", v).as("a"),
        size(filter(col("items"),
          s => s.getField("f") === lit(v))).as("b")), s"counteq($v)")
    }
  }

  test("countNested end-to-end counts unchanged on the fixture") {
    val flat = Seq((0L, "R", 1.0), (0L, "A", 2.0), (0L, "R", 3.0),
      (1L, "N", 4.0), (1L, null, 5.0)).toDF("k", "flag", "v")
    val packed = NestedOps.packFlat(flat, Seq("k"), "items")
    val counted = NestedOps.countNested(packed, "items", Some("flag"),
      Seq("R", "A", "N"), dropNa = true)
      .orderBy("k").select("k", "n_items_R", "n_items_A", "n_items_N")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(counted.toSeq == Seq((0L, 2, 1, 0), (1L, 0, 0, 1)))
    // the no-dropNa guard still raises on null by-values
    val err = intercept[Exception] {
      NestedOps.countNested(packed, "items", Some("flag"), Seq("R")).collect()
    }
    assert(err.getMessage != null)
  }

  test("kernel survives whole-stage codegen (plan has no CodegenFallback trip)") {
    // count() through an agg forces execution through the codegen path;
    // value equality with the interpreted eval is the real assertion
    val viaExec = df.select(
      native.field_reduce(col("items"), "q", "mean").as("m")).agg(
      sum(when(col("m").isNotNull, 1).otherwise(0))).collect()(0).get(0)
    val viaHof = df.select(
      oldElementMean("items", "q").as("m")).agg(
      sum(when(col("m").isNotNull, 1).otherwise(0))).collect()(0).get(0)
    assert(viaExec == viaHof)
  }
}
