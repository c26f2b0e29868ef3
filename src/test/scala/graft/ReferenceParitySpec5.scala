package graft

import graft.nested.{NestedOps, syntax}
import syntax._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.NestedParquet

/** Round-7 depth sweep, part 2: the io mixed-struct / reject_nesting
  * partial-loading corners (tests/nested_pandas/nestedframe/test_io.py:
  * 138-226) and the count_nested regression corners
  * (tests/nested_pandas/utils/test_utils.py). These pin the reference's
  * "reject the cast" fallback: a partial load whose leaves are all
  * list-typed re-nests under the prefix; any scalar leaf (or an explicit
  * reject_nesting entry) pops the whole prefix back to flat leaf-named
  * columns — standard pandas/pyarrow behavior.
  */
class ReferenceParitySpec5 extends SparkSpec {
  import spark.implicits._

  /** The reference's mixed-struct fixture (test_io.py:175-226): one
    * all-list struct, one all-scalar struct, one mixed struct. */
  private lazy val mixedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("mixedpq").toString
    Seq(
      (100L, Seq(1L, 2L), Seq("a", "b"), Seq(true, false), 1L, "a", true),
      (101L, Seq(3L, 4L), Seq("b", "c"), Seq(true, false), 2L, "b", false),
      (102L, Seq(5L, 6L), Seq("c", "d"), Seq(true, false), 3L, "c", true))
      .toDF("id", "l1", "l2", "l3", "v1", "v2", "v3")
      .select($"id",
        struct($"l1".as("list1"), $"l2".as("list2"), $"l3".as("list3"))
          .as("struct_list"),
        struct($"v1".as("val1"), $"v2".as("va12"), $"v3".as("val3"))
          .as("struct_value"),
        struct($"v1".as("val1"), $"v2".as("va12"), $"l3".as("list3"))
          .as("struct_mix"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/structs")
    s"$dir/structs"
  }

  test("io: full read nests only the ALL-list struct; value and mixed " +
      "structs stay structs (test_io.py:175-218)") {
    val nf = NestedParquet.readCompat(spark, mixedDir)
    assert(nf.columns.toSeq ==
      Seq("id", "struct_list", "struct_value", "struct_mix"))
    assert(NestedOps.nestedColumns(nf) == Seq("struct_list"))
    assert(nf.schema("struct_value").dataType.isInstanceOf[StructType])
    assert(nf.schema("struct_mix").dataType.isInstanceOf[StructType])
    // the nested cast preserves values: elements zip positionally
    val row0 = nf.where($"id" === 100L)
      .select(expr("transform(struct_list, e -> e.list1)")).as[Seq[Long]]
      .head()
    assert(row0 == Seq(1L, 2L))
  }

  test("io: partial load of ONLY list leaves of a mixed struct re-nests " +
      "it (test_io.py:219-222)") {
    val raw = spark.read.parquet(mixedDir)
    val nf = NestedParquet.selectColumns(raw, Seq("id", "struct_mix.list3"))
    assert(nf.columns.toSeq == Seq("id", "struct_mix"))
    assert(NestedOps.nestedColumns(nf) == Seq("struct_mix"))
    assert(nf.schema("struct_mix").dataType.simpleString ==
      "array<struct<list3:boolean>>")
    assert(nf.where($"id" === 100L)
      .select(expr("transform(struct_mix, e -> e.list3)")).as[Seq[Boolean]]
      .head() == Seq(true, false))
  }

  test("io: mixing a scalar leaf into the partial load rejects the cast — " +
      "flat leaf-named columns (test_io.py:223-226)") {
    val raw = spark.read.parquet(mixedDir)
    val nf = NestedParquet.selectColumns(raw,
      Seq("id", "struct_mix.list3", "struct_mix.val1"))
    assert(nf.columns.toSeq == Seq("id", "list3", "val1"))
    assert(NestedOps.nestedColumns(nf).isEmpty)
    assert(nf.schema("list3").dataType.simpleString == "array<boolean>")
    assert(nf.orderBy("id").select($"val1").as[Long].collect().toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("io: reject_nesting keeps the on-disk struct shape on a full read " +
      "(test_io.py:138-150)") {
    val nf = NestedParquet.readCompat(spark,
      "src/test/resources/reference/test_data/nested.parquet",
      rejectNesting = Seq("nested"))
    // the fixture has a second nestable column "lincc" that still converts
    assert(NestedOps.nestedColumns(nf) == Seq("lincc"))
    assert(nf.schema("nested").dataType.isInstanceOf[StructType])
  }

  test("io: reject_nesting + partial load yields a flat leaf-named list " +
      "column (test_io.py:152-158)") {
    val dir = java.nio.file.Files.createTempDirectory("rejpq").toString
    NestedParquet.generateData(spark, 5, 3)
      .write.mode("overwrite").parquet(s"$dir/d")
    val raw = spark.read.parquet(s"$dir/d")
    val nf = NestedParquet.selectColumns(raw, Seq("a", "nested.t"),
      rejectNesting = Seq("nested"))
    assert(nf.columns.toSeq == Seq("a", "t"))
    assert(NestedOps.nestedColumns(nf).isEmpty)
    assert(nf.schema("t").dataType.simpleString == "array<double>")
    assert(nf.count() == 5)
  }

  // ---------------------------------------------------------- count_nested

  /** The reference's count_nested fixture (test_utils.py:13-50). */
  private def countFixture: DataFrame = Seq(
    (100L, 1.0, Option(2.0), Seq(0.0, 2.0, 4.0), Seq(5.0, 4.0, 7.0),
      Seq("b", "a", "b")),
    (101L, 2.0, Option.empty[Double], Seq(1.0, 3.0, 3.0), Seq(5.0, 3.0, 1.0),
      Seq("b", "a", "a")),
    (102L, 3.0, Option(6.0), Seq(1.0, 4.0, 1.0), Seq(9.0, 3.0, 4.0),
      Seq("b", "a", "b")))
    .toDF("id", "a", "b", "c", "d", "label")
    .fromLists(Seq("c", "d", "label"), "nested")

  test("count_nested: total and by-label counts on the reference fixture " +
      "(test_utils.py:13-50)") {
    val total = NestedOps.countNested(countFixture, "nested")
    // join=True analog: count column appended after the base columns
    assert(total.columns.toSeq ==
      Seq("id", "a", "b", "nested", "n_nested"))
    assert(total.orderBy("id").select($"n_nested").as[Int].collect().toSeq ==
      Seq(3, 3, 3))
    val byLabel = NestedOps.countNested(countFixture, "nested",
      Some("label"), Seq("a", "b"))
    assert(byLabel.orderBy("id").select($"n_nested_a").as[Int]
      .collect().toSeq == Seq(1, 2, 1))
    assert(byLabel.orderBy("id").select($"n_nested_b").as[Int]
      .collect().toSeq == Seq(2, 1, 2))
    // join=False analog: select only the count columns
    val only = byLabel.select("n_nested_a", "n_nested_b")
    assert(only.columns.toSeq == Seq("n_nested_a", "n_nested_b"))
  }

  test("count_nested: pivot columns come out in ALPHABETICAL by-value " +
      "order (test_utils.py:41-44, issue 109)") {
    // labels arrive in non-alphabetical order ("r" before "g") — the
    // auto-discovered column order must still be alphabetical
    val df = Seq(
      (0L, Seq("r", "g", "r")), (1L, Seq("r", "r", "g")))
      .toDF("id", "band").fromLists(Seq("band"), "nested")
    val counted = NestedOps.countNestedAuto(df, "nested", "band")
    assert(counted.columns.takeRight(2).toSeq ==
      Seq("n_nested_g", "n_nested_r"))
  }

  test("count_nested: by-values absent for a row after a query count as " +
      "INT 0, never NULL (test_utils.py:104-131, issue 472)") {
    val df = Seq(
      (0L, Seq(1.0, 2.0), Seq("g", "r")),
      (1L, Seq(3.0, 4.0), Seq("g", "r")),
      (2L, Seq(5.0), Seq("g")))
      .toDF("id", "flux", "band").fromLists(Seq("flux", "band"), "nested")
    val filtered = NestedOps.filterElements(df, "nested",
      e => e.getField("flux") > 1.5)
    val counts = NestedOps.countNested(filtered, "nested",
      Some("band"), Seq("g", "r"))
    assert(counts.schema("n_nested_g").dataType == IntegerType)
    assert(counts.schema("n_nested_r").dataType == IntegerType)
    assert(counts.orderBy("id").select($"n_nested_g").as[Int]
      .collect().toSeq == Seq(0, 1, 1))
    assert(counts.orderBy("id").select($"n_nested_r").as[Int]
      .collect().toSeq == Seq(1, 1, 0))
    assert(counts.select($"n_nested_g".isNull || $"n_nested_r".isNull)
      .as[Boolean].collect().forall(_ == false))
  }

  // ------------------------------------------------- error contracts

  private def twoField: DataFrame = Seq(
    (0L, Seq(1L, 2L, 3L), Seq(-4.0, -5.0, -6.0)),
    (1L, Seq(1L, 2L, 1L), Seq(-3.0, -4.0, -5.0))).toDF("id", "a", "b")
    .fromLists(Seq("a", "b"), "nested")

  test("view_fields raises for an unknown field and for repeated fields " +
      "(test_ext_array.py:1675-1704)") {
    val e1 = intercept[IllegalArgumentException] {
      NestedOps.selectSubFields(twoField, "nested", Seq("a", "c"))
    }
    assert(e1.getMessage.contains("c"))
    val e2 = intercept[IllegalArgumentException] {
      NestedOps.selectSubFields(twoField, "nested", Seq("a", "a"))
    }
    assert(e2.getMessage.contains("Repeated"))
    // the valid projection still works
    assert(NestedOps.subColumns(
      NestedOps.selectSubFields(twoField, "nested", Seq("b")), "nested") ==
      Seq("b"))
  }

  test("keep_dtype: replacing a field with a different type raises; a NEW " +
      "field raises (test_ext_array.py:1756-1790, 1894-1928)") {
    // same-type replacement is fine
    val ok = NestedOps.withNestedFieldKeepDtype(twoField, "nested", "a",
      s => s.getField("a") * 2L)
    assert(ok.select(expr("transform(nested, e -> e.a)")).where($"id" === 0L)
      .as[Seq[Long]].head() == Seq(2L, 4L, 6L))
    // type change: bigint -> string
    val e1 = intercept[IllegalArgumentException] {
      NestedOps.withNestedFieldKeepDtype(twoField, "nested", "a",
        s => s.getField("a").cast("string"))
    }
    assert(e1.getMessage.contains("change type"))
    // new field under keep_dtype
    val e2 = intercept[IllegalArgumentException] {
      NestedOps.withNestedFieldKeepDtype(twoField, "nested", "c", _ => lit(1))
    }
    assert(e2.getMessage.contains("does not exist"))
  }

  test("set_list_column raises for a NON-list source column " +
      "(test_ext_array.py:1862-1875)") {
    val df = twoField.withColumn("scalar", lit(7))
    val e = intercept[IllegalArgumentException] {
      NestedOps.withNestedFieldFromList(df, "nested", "c", "scalar")
    }
    assert(e.getMessage.contains("not a list"))
  }

  test("to_flat on a double-nest keeps the INNER layer packed " +
      "(test_accessor.py:290-304)") {
    val inner = Seq(
      (0L, 0L, 1.0), (0L, 1L, 2.0), (1L, 2L, 3.0), (1L, 3L, 4.0))
      .toDF("oid", "iid", "t")
    val packedInner = NestedOps.packFlat(inner, Seq("oid", "iid"), "inner",
      sortBy = Seq(("t", true)))
    val outer = NestedOps.packFlat(packedInner, Seq("oid"), "outer",
      sortBy = Seq(("iid", true)))
    val flat = NestedOps.toFlat(outer, "outer", baseCols = Seq("oid"))
    // one row per OUTER element; 'inner' survives as a nested column
    assert(flat.count() == 4)
    assert(NestedOps.nestedColumns(flat).contains("inner"))
    assert(flat.schema("inner").dataType.simpleString
      .startsWith("array<struct<"))
  }

  test("mapping-protocol get: existing field matches to_flat, missing " +
      "field yields the default (test_accessor.py:673-686)") {
    val got = NestedOps.nestGet(twoField, "nested", "a")
    assert(got.isDefined)
    assert(twoField.orderBy("id").select(got.get.as("a"))
      .as[Seq[Long]].collect().toSeq ==
      Seq(Seq(1L, 2L, 3L), Seq(1L, 2L, 1L)))
    assert(NestedOps.nestGet(twoField, "nested", "c")
      .getOrElse("default_value") == "default_value")
  }

  test("to_flatten_inner raises for a non-nested inner field " +
      "(test_accessor.py:1189-1200)") {
    val two = Seq((0L, Seq((1L, 2.0)), 5.0)).toDF("id", "pairs", "x")
    val nested = two.select($"id",
      expr("transform(pairs, p -> struct(p._1 as a, p._2 as b))").as("nested"))
    val e = intercept[Exception] {
      NestedOps.flattenInner(nested, "nested", "a").collect()
    }
    assert(e.getMessage.contains("not array<struct>") ||
      e.getMessage.toLowerCase.contains("a"))
  }
}
