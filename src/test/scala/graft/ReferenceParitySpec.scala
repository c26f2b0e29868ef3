package graft

import graft.nested.{NestedOps, NestedExpr, syntax}
import syntax._
import org.apache.spark.sql.functions._

/** Ports of reference test cases (tests/nested_pandas/nestedframe/
  * test_nestedframe.py) beyond the operator specs — semantics edge cases
  * the round-1 verdict flagged as thin: query dialect corners, dropna
  * layers, empty-frame reshaping, scientific notation, Series-style nest
  * predicates. */
class ReferenceParitySpec extends SparkSpec {
  import spark.implicits._

  // the reference's F2-style fixture (test_query, line 883)
  lazy val base = Seq((0L, 1, 2), (1L, 2, 3), (2L, 2, 4), (3L, 3, 6))
    .toDF("key", "a", "b")
  lazy val child = Seq(
    (0L, 0, 5), (0L, 2, 4), (0L, 4, 7),
    (1L, 1, 5), (1L, 4, 3), (1L, 3, 1),
    (2L, 1, 9), (2L, 4, 3), (2L, 1, 4)).toDF("key", "c", "d")
  lazy val nf = base.joinNested(child, Seq("key"), "nested", "inner",
    sortBy = Seq(("c", true), ("d", true)))

  test("query: vanilla base, nested counts, compound predicates (ref:883)") {
    assert(NestedExpr.query(nf, "a > 2").count() == 0) // inner join drops key 3
    val all = base.joinNested(child, Seq("key"), "nested")
    assert(NestedExpr.query(all, "a > 2").count() == 1)
    // (the reference's fixture double-counts one index row — ours has
    // distinct keys, so counts are 5/4 where the reference sees 7/5)
    val q1 = NestedExpr.query(nf, "nested.c > 1")
    assert(q1.select(sum(size($"nested"))).as[Long].collect()(0) == 5)
    val q2 = NestedExpr.query(nf, "(nested.c > 1) and (nested.d > 2)")
    assert(q2.select(sum(size($"nested"))).as[Long].collect()(0) == 4)
    // chained: base filter then element filter
    val b2 = NestedExpr.query(nf, "(a % 2) == 1")
    assert(b2.count() == 1) // key 0 (a=1); keys 1,2 have a=2
    val deep = NestedExpr.query(nf, "nested.c + nested.d > 9")
    assert(deep.select(sum(size($"nested"))).as[Long].collect()(0) == 2)
  }

  test("query: multi-layer and multi-nest errors (ref:897-905)") {
    intercept[IllegalArgumentException] {
      NestedExpr.query(nf, "a > 2 and nested.c > 1")
    }
    val two = NestedExpr.evalAssign(nf, "nest2.c = nested.c + 1")
    assert(two.nestedColumns.size == 2)
    intercept[IllegalArgumentException] {
      NestedExpr.query(two, "nested.c > 1 and nest2.c > 2")
    }
  }

  test("query on non-identifier columns (ref GH#174/GH#176, :939)") {
    val b = Seq((0L, 1, 2), (1L, 2, 4), (2L, 3, 6)).toDF("key", "dog", "good dog")
    val n = Seq((0L, 0, 5), (0L, 2, 4), (0L, 4, 7), (1L, 1, 5), (1L, 4, 3),
      (1L, 3, 1), (2L, 1, 9), (2L, 4, 3), (2L, 1, 4))
      .toDF("key", "n/a", "n/b")
    val packed = b.joinNested(n, Seq("key"), "bad dog")
    assert(NestedExpr.query(packed, "`good dog` > 3").count() == 2)
    val q3 = NestedExpr.query(packed, "`bad dog`.`n/a` > 2")
    assert(q3.select(sum(size(col("`bad dog`")))).as[Long].collect()(0) == 4)
  }

  test("scientific notation constants in query (ref GH#59, :1672)") {
    val df = Seq((0L, 1.0), (1L, 1e-2), (2L, 3.0)).toDF("key", "a")
    val sel = NestedExpr.query(df, "a > 1e-1")
    assert(sel.select("key").as[Long].collect().toSet == Set(0L, 2L))
    // and in eval assignment
    val e = NestedExpr.evalAssign(df, "x = a + 1e2")
    assert(e.where($"key" === 0).select($"x").as[Double].collect()(0) == 101.0)
  }

  test("nest.isna()/notna() as Series predicates (ref :190)") {
    val all = base.joinNested(child, Seq("key"), "nested") // key 3 → NULL cell
    assert(NestedExpr.query(all, "nested.isna()").count() == 1)
    assert(NestedExpr.query(all, "nested.notna()").count() == 3)
    val e = NestedExpr.evalAssign(all, "has_nest = nested.notna()")
    assert(e.where($"has_nest").count() == 3)
  }

  test("dropna on all layers (ref :969)") {
    val withNulls = base
      .withColumn("bn", when($"key" === 1, lit(null)).otherwise($"b"))
      .joinNested(
        child.withColumn("cn",
          when($"c" === 4 && $"d" === 3, lit(null)).otherwise($"c")),
        Seq("key"), "nested", "inner")
    // base-layer dropna (Spark built-in na.drop on the base column)
    assert(withNulls.na.drop(Seq("bn")).count() == 2)
    // element-layer dropna targeting one field
    val dn = NestedOps.dropNaElements(withNulls, "nested", Seq("cn"))
    assert(dn.count() == 3) // rows all kept
    // 9 elements minus the two (c=4, d=3) nulls
    assert(dn.select(sum(size($"nested"))).as[Long].collect()(0) == 7)
    // row-level cell dropna
    val withEmpty = base.joinNested(child, Seq("key"), "nested")
    assert(withEmpty.na.drop(Seq("nested")).count() == 3)
  }

  test("split on an empty frame keeps schema and per-value nests (ref :1843)") {
    val tagged = nf.withNestedField("nested", "band",
      s => when(s.getField("c") > 1, "g").otherwise("r"))
    val emptyTagged = tagged.where(lit(false))
    val split = NestedOps.splitNested(emptyTagged, "nested", "band",
      Seq("r", "g"))
    assert(split.count() == 0)
    assert(split.columns.contains("nested_r") &&
      split.columns.contains("nested_g") && !split.columns.contains("nested"))
    val keep = NestedOps.splitNested(emptyTagged, "nested", "band", Seq("r"),
      dropSource = false)
    assert(keep.columns.contains("nested"))
  }

  test("from_flat omitting columns + recover round-trip (ref :790-818)") {
    val flat = child.withColumn("extra", $"c" * 10)
    // omit 'extra' from the nest
    val packed = NestedOps.fromFlat(flat, Seq.empty, Seq("c", "d"),
      Seq("key"), "nested")
    assert(NestedOps.subColumns(packed, "nested") == Seq("c", "d"))
    // recover: to_flat round-trips the nested values
    val back = packed.toFlat("nested", baseCols = Seq("key"))
    assert(back.count() == child.count())
    assert(back.agg(sum($"c")).as[Long].collect()(0) ==
      child.agg(sum($"c")).as[Long].collect()(0))
  }

  test("drop raises for missing columns and fields (ref accessor :517-548)") {
    intercept[IllegalArgumentException] {
      NestedOps.dropNestedFields(nf, "nested", Seq("zzz"))
    }
    intercept[IllegalArgumentException] {
      NestedOps.dropColumns(nf, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      NestedOps.dropColumns(nf, Seq("nested.zzz"))
    }
  }

  test("query to an empty result keeps schema; cells NULL (core.py:1638-1648)") {
    val q = NestedExpr.query(nf, "nested.c > 1000")
    assert(q.count() == 3) // rows kept, cells emptied → NULL (repack-by-index)
    assert(q.where($"nested".isNull).count() == 3)
    // names+types survive (the nest column correctly becomes nullable)
    assert(q.schema.map(f => (f.name, f.dataType)) ==
      nf.schema.map(f => (f.name, f.dataType)))
    val dropEmpty = NestedOps.filterElementsDropEmpty(nf, "nested",
      s => s.getField("c") > 1000)
    assert(dropEmpty.count() == 0)
    // names+types survive; the nest becomes nullable (the r9 mask rule
    // marks emptied cells missing before the drop)
    assert(dropEmpty.schema.map(f => (f.name, f.dataType)) ==
      nf.schema.map(f => (f.name, f.dataType)))
  }

  test("to_flat through a double nest (ref accessor :290)") {
    val byParity = NestedOps.packFlat(
      nf.withColumn("grp", $"key" % 2), Seq("grp"), "outer")
    // outer elements contain the inner nested column; flatten outer first
    val flatOuter = byParity.toFlat("outer", baseCols = Seq("grp"))
    assert(flatOuter.count() == 3)
    assert(flatOuter.columns.contains("nested"))
    val fullyFlat = flatOuter.toFlat("nested", baseCols = Seq("grp", "key"))
    assert(fullyFlat.count() == 9)
    assert(fullyFlat.agg(sum($"c")).as[Long].collect()(0) ==
      child.agg(sum($"c")).as[Long].collect()(0))
  }

  test("count_nested by-column nulls raise unless dropNa (ref GH#494)") {
    val withNullBand = nf.withNestedField("nested", "band",
      s => when(s.getField("c") === 0, lit(null))
        .otherwise(when(s.getField("c") > 1, "g").otherwise("r")))
    val counted = NestedOps.countNested(withNullBand, "nested",
      Some("band"), Seq("g", "r"))
    val e = intercept[Exception] { counted.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null values")))
    // dropNa ignores the null band; remaining bands tally normally
    val ok = NestedOps.countNested(withNullBand, "nested",
        Some("band"), Seq("g", "r"), dropNa = true)
      .orderBy("key")
      .select($"n_nested_g".cast("long"), $"n_nested_r".cast("long"))
      .as[(Long, Long)].collect().toSeq
    assert(ok == Seq((2L, 0L), (2L, 1L), (1L, 2L)))
    // auto-discovery matches the explicit-values call
    val auto = NestedOps.countNestedAuto(withNullBand, "nested", "band",
      dropNa = true)
    assert(auto.columns.count(_.startsWith("n_nested_")) == 2)
  }

  test("@local references in query and eval resolve to literals") {
    val hi = NestedExpr.query(nf, "b > @cut", Map("cut" -> 3))
    assert(hi.select("key").as[Long].collect().toSet == Set(2L)) // b=2,3,4
    val e = NestedExpr.eval(nf,
      """scaled = a * @factor
        |tag = @label""".stripMargin,
      Map("factor" -> 10, "label" -> "it's x"))
    assert(e.orderBy($"key").select($"scaled").as[Int].collect().toSeq ==
      Seq(10, 20, 20)) // a = 1, 2, 2
    assert(e.select($"tag").as[String].head() == "it's x")
    intercept[IllegalArgumentException] {
      NestedExpr.query(nf, "a > @nope", Map("cut" -> 1))
    }
  }

  test("map_rows dict packaging delivers name-keyed inputs (ref :2207)") {
    import org.apache.spark.sql.types._
    val out = graft.nested.MapRows.mapRowsDict(nf, Seq("a", "nested.c"),
      StructType(Seq(StructField("a2", IntegerType),
        StructField("sum_c", IntegerType)))) { in =>
      val a = in("a").asInstanceOf[Int]
      val cs = in("nested.c").asInstanceOf[Seq[Int]]
      Seq(a * 2, cs.sum)
    }
    val r = out.as[(Int, Int)].collect().toSet
    assert(r == Set((2, 6), (4, 8), (4, 6))) // a = 1, 2, 2
  }

  test("fillna across base and multiple nests with per-key values (ref :2326)") {
    val b = Seq((0L, Option.empty[Double], Some(2.0)),
        (1L, Option.empty[Double], Option.empty[Double]),
        (2L, Some(3.0), Some(6.0))).toDF("key", "a", "b")
    val n1 = Seq((0L, Some(0.0), Option.empty[Double]),
      (0L, Some(2.0), Some(4.0)), (0L, Option.empty[Double], Option.empty[Double]),
      (1L, Some(1.0), Some(5.0)), (2L, Option.empty[Double], Some(3.0)))
      .toDF("key", "c", "d")
    val n2 = Seq((0L, Option.empty[Double], Some(5.0)),
      (1L, Some(1.0), Some(5.0)), (2L, Some(4.0), Some(3.0)))
      .toDF("key", "e", "f")
    val nf2 = b.joinNested(n1, Seq("key"), "nested",
        sortBy = Seq(("c", true), ("d", true)))
      .joinNested(n2, Seq("key"), "nested2")
    // base fill + per-field nested fills across BOTH nests in one flow
    val filled = NestedOps.fillNaElements(
      NestedOps.fillNaElements(
        nf2.na.fill(Map("a" -> 0.0, "b" -> 1.0)),
        "nested", Map("c" -> 2.0, "d" -> 3.0)),
      "nested2", Map("e" -> 9.0))
    assert(filled.orderBy($"key").select($"a").as[Double].collect().toSeq ==
      Seq(0.0, 0.0, 3.0))
    assert(filled.where($"key" === 1).select($"b").as[Double].head() == 1.0)
    val cSum = filled.select(explode($"nested.c").as("v"))
      .agg(sum($"v")).as[Double].head()
    assert(cSum == 0.0 + 2.0 + 2.0 + 1.0 + 2.0) // nulls → 2.0
    val eVals = filled.orderBy($"key").select($"nested2.e").as[Seq[Double]]
      .collect().flatten.toSeq
    assert(eVals == Seq(9.0, 1.0, 4.0)) // null e → 9.0
  }

  test("explode aligned base list columns (ref :2176)") {
    val df = Seq(
      (0L, Seq(1, 2, 3), Seq("x1", "x2", "x3")),
      (1L, Seq(4), Seq("y")),
      (2L, Seq(5, 6), Seq("z1", "z2"))).toDF("key", "a", "c")
    val r = NestedOps.explodeAligned(df, Seq("a", "c"))
    assert(r.count() == 6)
    val got = r.orderBy($"key", $"a").select($"a", $"c")
      .as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "x1"), (2, "x2"), (3, "x3"), (4, "y"),
      (5, "z1"), (6, "z2")))
  }

  test("min/max lexicographic strings + numeric_only excludes them (ref :1863)") {
    val tagged = nf.withNestedField("nested", "band",
      s => when(s.getField("c") > 1, "g").otherwise("r"))
    val mn = NestedOps.aggAllColumns(tagged.drop("key"), "min")
    val row = mn.collect()(0)
    assert(row.getAs[String]("nested.band") == "g") // lexicographic min
    val cols = NestedOps.aggAllColumns(tagged.drop("key"), "min",
      numericOnly = true).columns.toSeq
    assert(!cols.contains("nested.band"))
  }

  test("from_flat of an empty frame keeps the nested schema (ref issue348)") {
    val empty = Seq.empty[(Long, Double)].toDF("key", "x")
    val nf = NestedOps.fromFlat(empty, Nil, Seq("x"), Seq("key"), "new")
    assert(nf.count() == 0)
    assert(nf.schema("new").dataType.isInstanceOf[
      org.apache.spark.sql.types.ArrayType])
    assert(nf.subColumns("new") == Seq("x"))
  }

  test("concat of nested frames then cross-layer assignment (ref issue294)") {
    val srt = Seq(("c", true), ("d", true))
    val a = base.joinNested(child, Seq("key"), "nested", "left", srt)
    val b = base.withColumn("key", $"key" + 10).joinNested(
      child.withColumn("key", $"key" + 10), Seq("key"), "nested", "left", srt)
    val nf = a.unionByName(b).withColumn("c", $"key" * 2)
    // base column broadcast INTO the nest after a union (the chunked-array
    // case that failed in the reference), plus an element-level transform
    val out = NestedExpr.evalAssign(
      NestedExpr.evalAssign(nf, "nested.c2 = nested.c + c"),
      "nested.dd = nested.d * 2")
    assert(out.count() == 8)
    val r = out.where($"key" === 11)
      .select(expr("transform(nested, e -> e.c2)"),
        expr("transform(nested, e -> e.dd)"))
      .as[(Seq[Long], Seq[Int])].collect()(0)
    // key 11: c = 22, children c=[1,3,4] (sorted by (c,d)), d=[5,1,3]
    assert(r._1 == Seq(23L, 25L, 26L) && r._2 == Seq(10, 2, 6))
  }

  test("describe dtype blocks + percentile interpolation (ref :2018)") {
    // the reference's base_mix + nested_num + nested_mix fixture. Our port
    // splits describe into the numeric block (describeAll) and the
    // object block (describeNonNumeric) — include='all' is their union.
    val baseMix = Seq((0L, 1L, "2", "x"), (1L, 2L, "4", "y"),
      (2L, 3L, "6", "z")).toDF("key", "a", "b", "c")
    val nestedNum = Seq((0L, 10L, 1L), (0L, 11L, 2L), (1L, 20L, 3L),
      (1L, 21L, 4L), (1L, 3L, 5L), (2L, 31L, 6L), (2L, 32L, 7L))
      .toDF("key", "d", "y")
    val nestedMix = Seq((0L, "A", 5L), (0L, "B", 4L), (0L, "C", 7L),
      (1L, "A", 5L), (1L, "E", 1L), (2L, "A", 9L), (2L, "A", 3L),
      (2L, "B", 4L)).toDF("key", "e", "f")
    val frame = baseMix.joinNested(nestedNum, Seq("key"), "nested_num")
      .joinNested(nestedMix, Seq("key"), "nested_mix").drop("key")
    // r11: default numeric describe covers a + both numeric nested fields
    val num = NestedOps.describeAll(frame)
    val numCols = num.select("column").distinct().as[String].collect().toSet
    assert(numCols ==
      Set("a", "nested_num.d", "nested_num.y", "nested_mix.f"))
    def stat(df: org.apache.spark.sql.DataFrame, c: String, s: String) =
      df.where($"column" === c && $"stat" === s)
        .select("value").as[Double].collect()(0)
    assert(stat(num, "a", "mean") == 2.0)             // r0
    assert(stat(num, "nested_mix.f", "min") == 1.0)   // r11
    // r12: object block — b, c, and (unlike pandas' pyarrow-string quirk,
    // which silently skips nested strings on include=object) nested_mix.e
    val obj = NestedOps.describeNonNumeric(frame)
    val objCols = obj.select("column").distinct().as[String].collect().toSet
    assert(objCols == Set("b", "c", "nested_mix.e"))
    assert(obj.where($"column" === "b").select("n_unique")
      .as[Long].collect()(0) == 3)                    // r12 unique
    assert(obj.where($"column" === "nested_mix.e").select("top", "top_freq")
      .as[(String, Long)].collect()(0) == ("A", 4L))  // freq block
    // r15: exclude_nest keeps base only
    val baseOnly = NestedOps.describeAll(frame, excludeNest = true)
      .select("column").distinct().as[String].collect().toSet
    assert(baseOnly == Set("a"))
    // r16: pandas linear percentile interpolation: 10% of [1,2,3] = 1.2
    val pct = NestedOps.describeAll(frame, percentiles = Seq(0.1, 0.5, 0.9))
    assert(math.abs(stat(pct, "a", "10%") - 1.2) < 1e-12)
    // ValueError analogs: empty selection raises
    intercept[IllegalArgumentException] {
      NestedOps.describeAll(frame, exclude = Seq("number"))
    }
    intercept[IllegalArgumentException] {
      NestedOps.describeNonNumeric(frame.select("a")) // no object columns
    }
  }

  test("sort_values on base and nested layers, mixed directions (ref :1082)") {
    val b = Seq((0L, 1L, 2L), (1L, 2L, 3L), (2L, 3L, 6L)).toDF("key", "a", "b")
    val n = Seq((0L, 0L, 5L), (0L, 2L, 4L), (0L, 4L, 7L),
      (1L, 1L, 5L), (1L, 4L, 3L), (1L, 3L, 1L),
      (2L, 1L, 9L), (2L, 4L, 3L), (2L, 1L, 4L)).toDF("key", "c", "d")
    val packed = b.joinNested(n, Seq("key"), "nested")
    def row0d(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.where($"key" === 0)
        .select(expr("transform(nested, e -> e.d)")).as[Seq[Long]]
        .collect()(0)
    // base sort preserves the key order of the fixture
    assert(NestedOps.sortValues(packed, Seq(("b", true)))
      .select("key").as[Long].collect().toSeq == Seq(0L, 1L, 2L))
    // nested ascending / descending / multi-key mixed directions
    assert(row0d(NestedOps.sortValues(packed, Seq(("nested.d", true))))
      == Seq(4L, 5L, 7L))
    assert(row0d(NestedOps.sortValues(packed, Seq(("nested.d", false))))
      == Seq(7L, 5L, 4L))
    assert(row0d(NestedOps.sortValues(packed,
      Seq(("nested.d", false), ("nested.c", true)))) == Seq(7L, 5L, 4L))
    // multi-layer mixing raises (ref ValueError)
    intercept[IllegalArgumentException] {
      NestedOps.sortValues(packed, Seq(("a", true), ("nested.c", true)))
    }
  }

  test("query: scientific-notation constants (ref test_scientific_notation)") {
    val df = Seq((0L, 1.0), (1L, 1e-2), (2L, 3.0)).toDF("key", "a")
    val sel = NestedExpr.query(df, "a > 1e-1")
    assert(sel.select($"key").as[Long].collect().toSet == Set(0L, 2L))
    // negative exponent with explicit sign inside a compound predicate
    assert(NestedExpr.query(df, "a > 1e-1 and a < 1E1").count() == 2)
  }

  test("query: non-identifier column names (ref GH#174/GH#176)") {
    val b = Seq((0L, 1, 2), (1L, 2, 4), (2L, 3, 6))
      .toDF("key", "dog", "good dog")
    val n = Seq((0L, 0, 5), (0L, 2, 4), (0L, 4, 7), (1L, 1, 5), (1L, 4, 3),
      (1L, 3, 1), (2L, 1, 9), (2L, 4, 3), (2L, 1, 4))
      .toDF("key", "n/a", "n/b")
    val f = b.joinNested(n, Seq("key"), "bad dog")
    // base filter on a space-named column
    assert(NestedExpr.query(f, "`good dog` > 3").count() == 2)
    // element filter on a backticked nest with a slash-named subfield:
    // rows kept, elements pruned to the 4 passing ones (ref nest size 4)
    val nf4 = NestedExpr.query(f, "`bad dog`.`n/a` > 2")
    assert(nf4.count() == 3)
    assert(nf4.select(explode(col("bad dog"))).count() == 4)
  }

  test("empty-frame reshaping: join, split, list assignment (ref trio)") {
    // join_nested on empty base × empty child (ref test_join_nested_for_empty_df)
    val eb = Seq.empty[(Long, Double)].toDF("key", "a")
    val ec = Seq.empty[(Long, Double)].toDF("key", "c")
    val joined = NestedOps.joinNested(eb, ec, Seq("key"), "nested")
    assert(joined.columns.contains("nested") && joined.count() == 0)
    assert(joined.select(explode(col("nested"))).count() == 0)
    // split with explicit values on an empty frame keeps the split columns
    // (ref test_split_empty_frame)
    val emptyNf = nf.where(lit(false))
    val split = NestedOps.splitNested(emptyNf, "nested", "c",
      values = Seq("1", "2"), dropSource = false)
    assert(split.columns.toSet.intersect(Set("nested_1", "nested_2")).size == 2)
    assert(split.count() == 0)
    // drop_nested honored on the empty frame
    val dropped = NestedOps.splitNested(emptyNf, "nested", "c",
      values = Seq("1"), dropSource = true)
    assert(!dropped.columns.contains("nested") &&
      dropped.columns.contains("nested_1"))
    // assignment into a nested field of an empty frame (ref test_issue235)
    val assigned = NestedOps.withNestedField(emptyNf, "nested", "x",
      s => s.getField("c") * 2)
    assert(assigned.count() == 0 &&
      assigned.select(col("nested")).schema.head.dataType.simpleString
        .contains("x"))
  }

  test("double nesting: to_flat keeps inner nests; flatten_inner edge cases") {
    // outer rows each carry an inner nested column (ref
    // test_to_flat_multiple_nesting / to_flatten_inner_{empty_inner,none_nested})
    val inner = Seq((0L, 1.0), (0L, 2.0), (1L, 3.0)).toDF("id", "t")
    val mid = Seq((0L, 10), (1L, 20), (2L, 30), (3L, 40)).toDF("id", "x")
      .joinNested(inner, Seq("id"), "inner") // ids 2,3: empty inner
    // make id 3's inner NULL (a missing inner nest, not just empty)
    val midNull = mid.withColumn("inner",
      when($"id" === 3L, lit(null)).otherwise($"inner"))
    val outer = NestedOps.packFlat(
      midNull.withColumn("grp", $"id" % 2), Seq("grp"), "outer")
    // to_flat keeps the inner nested column as an ordinary array field
    val flat = outer.toFlat("outer", baseCols = Seq("grp"))
    assert(flat.count() == 4)
    assert(flat.schema("inner").dataType.simpleString
      .startsWith("array<struct<t:double"))
    // flatten_inner: an outer element with EMPTY or NULL inner
    // contributes ONE row with null inner fields — pandas explode
    // semantics, established by EXECUTING the reference (r9
    // flatten_inner fuzz family; the pre-r9 assertion that such
    // elements contribute nothing was a hand-ported assumption — the
    // reference's own empty/none tests assert only no-crash)
    val flattened = NestedOps.flattenInner(outer, "outer", "inner")
    val rows = flattened.select($"grp",
        expr("transform(outer, e -> e.t)").as("ts"))
      .as[(Long, Seq[Option[Double]])].collect().toMap
    // pack order is unordered without sortBy → compare as multisets
    assert(rows(0L).sorted == Seq(None, Some(1.0), Some(2.0)))
    assert(rows(1L).sorted == Seq(None, Some(3.0)))
  }

  test("io: reference ZTF fixture end-to-end — transpose + inner flatten") {
    import graft.sources.NestedParquet
    // shape-equivalent stand-in for the reference's doubly-nested ZTF
    // fixture (tools/gen_reference_fixtures.py writes all five fixtures):
    // ztf is struct-of-list whose lc field is list<list<struct>> — after
    // transpose it is a nested column whose elements carry an INNER nest
    val nf = NestedParquet.readCompat(spark,
      "src/test/resources/reference/test_data/vsx-x-ztfdr22_lc-m31.parquet")
    assert(NestedOps.nestedColumns(nf).contains("ztf"))
    assert(NestedOps.subColumns(nf, "ztf").contains("lc"))
    // the fixture's single row has an entirely-NULL ztf nest — THE
    // "none_nested" case: the NULL cell must survive the transpose and
    // flatten_inner must pass it through without error
    assert(nf.count() == 1)
    assert(nf.where(col("ztf").isNull).count() == 1)
    val flat = NestedOps.flattenInner(nf, "ztf", "lc")
    assert(flat.count() == 1 && flat.where(col("ztf").isNull).count() == 1)
    // the reference's two-nest fixture transposes BOTH columns
    val two = NestedParquet.readCompat(spark,
      "src/test/resources/reference/test_data/nested.parquet")
    assert(NestedOps.nestedColumns(two).toSet == Set("nested", "lincc"))
    // ragged struct-of-list raises under validate (ref not_nestable cast failure)
    val bad = NestedParquet.readCompat(spark,
      "src/test/resources/reference/test_data/not_nestable.parquet",
      validate = true)
    val e = intercept[Exception] { bad.collect() }
    assert(e.getMessage.contains("not nestable") ||
      Option(e.getCause).exists(_.getMessage.contains("not nestable")))
  }

  test("io: empty parquet roundtrip + partial load (ref test_read_empty_parquet)") {
    import graft.sources.NestedParquet
    val dir = java.nio.file.Files.createTempDirectory("emptypq").toString
    val empty = NestedParquet.generateData(spark, 2, 3).where(lit(false))
    empty.write.mode("overwrite").parquet(s"$dir/e")
    val back = spark.read.parquet(s"$dir/e")
    assert(back.count() == 0 && back.columns.toSet ==
      Set("id", "a", "b", "nested"))
    val partial = NestedParquet.selectColumns(back,
      Seq("a", "nested.flux", "nested.band"))
    assert(partial.columns.toSeq == Seq("a", "nested"))
    assert(partial.select(col("nested")).schema.head.dataType.simpleString
      == "array<struct<flux:double,band:string>>")
    assert(partial.count() == 0)
  }

  test("io: autocast_list turns plain list columns into single-field nests") {
    import graft.sources.NestedParquet
    val dir = java.nio.file.Files.createTempDirectory("listpq").toString
    Seq(("cat", 1, Seq(1, 2, 3), Seq(10, 20, 30)),
        ("dog", 2, Seq(4, 5, 6), Seq(40, 50, 60)),
        ("bird", 3, Seq(7, 8, 9), Seq(70, 80, 90)))
      .toDF("a", "b", "c", "d").write.mode("overwrite").parquet(s"$dir/l")
    val nf = NestedParquet.readCompat(spark, s"$dir/l", autocastList = true)
    assert(NestedOps.nestedColumns(nf).toSet == Set("c", "d"))
    assert(NestedOps.subColumns(nf, "c") == Seq("c"))
    assert(nf.select(explode(col("c.c"))).count() == 9)
    assert(nf.select(explode(col("d.d"))).count() == 9)
    // opt-out leaves the raw list; plain scalars never autocast
    val raw = NestedParquet.readCompat(spark, s"$dir/l",
      rejectNesting = Seq("d"), autocastList = true)
    assert(NestedOps.nestedColumns(raw).toSet == Set("c"))
  }

  test("io: partial load keeps only the pruned nest (ref issue-428)") {
    import graft.sources.NestedParquet
    val dir = java.nio.file.Files.createTempDirectory("i428").toString
    NestedParquet.generateData(spark, 10, 3)
      .write.mode("overwrite").parquet(s"$dir/d")
    val nf = NestedParquet.selectColumns(
      spark.read.parquet(s"$dir/d"), Seq("nested.t"))
    assert(nf.columns.toSeq == Seq("nested"))
    assert(nf.select(col("nested")).schema.head.dataType.simpleString
      == "array<struct<t:double>>")
    assert(nf.count() == 10)
  }

  test("io: reference fixed-size-list parquet reads as nested columns") {
    // pyarrow-written stand-ins for the reference's fixed-size-list
    // fixtures (tools/gen_reference_fixtures.py): Spark's
    // parquet reader maps FIXED_LEN list encodings to ordinary arrays, so
    // the nested data model applies unchanged (ref
    // test_read_parquet_with_fixed_length_{struct_list,list_struct})
    val fls = spark.read.parquet(
      "src/test/resources/reference/fixed_size_list_data/fixed-size-list-struct.parquet")
    assert(fls.count() == 5 && fls.columns.length == 3)
    assert(NestedOps.nestedColumns(fls).contains("fixed_nested"))
    // mmu-desi stores spectrum as struct-of-FIXED-size-lists — the
    // reference's on-disk encoding with arrow fixed_size_list leaves;
    // readCompat transposes it to a nested column like any struct-of-list
    val mmu = graft.sources.NestedParquet.readCompat(spark,
      "src/test/resources/reference/fixed_size_list_data/mmu-desi.parquet")
    assert(mmu.count() == 2 && mmu.columns.length == 18)
    assert(NestedOps.nestedColumns(mmu).contains("spectrum"))
    assert(mmu.select(explode(col("spectrum"))).count() == 2 * 7781)
  }
}
