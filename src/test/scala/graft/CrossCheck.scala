package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{distinctShingles, tokens}
import graft.nested.NestedExpr.bq
import graft.operators.Similarity.planeWeight

/** Built-in (Column, SQL or window) formulations of the engine's native
  * kernels and operators. The specs compare each engine form with its twin
  * here on adversarial inputs; nothing in the engine calls them. */
object CrossCheck {

  /** Twin of `Similarity.topKPerQuery`: `row_number()` over a window per
    * query. Drops NULL neighbor ids, which the aggregate cannot rank. */
  def topKPerQueryWindow(scored: DataFrame, k: Int,
                         scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id"))
    scored.where(col("neighbor_id").isNotNull)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col(scoreCol))
  }

  /** Twin of `Similarity.dot`: the same sequential double fold as a HOF. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Twin of `Similarity.hyperplaneBucket`. Guarded on size >= dim so short
    * vectors yield NULL (matching the native kernel) instead of a 0 bucket
    * via element_at null-propagation. */
  def hyperplaneBucketHof(vec: Column, numPlanes: Int, dim: Int): Column = {
    val bucket = (0 until numPlanes).map { j =>
      val proj = (0 until dim).map { d =>
        element_at(vec, d + 1).cast("double") * lit(planeWeight(j, d).toDouble)
      }.reduce[Column](_ + _)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce[Column](_ + _)
    when(size(vec) >= dim, bucket)
  }

  /** Twin of `Similarity.pqEncode`. Guarded on size >= m·sub so short
    * vectors yield NULL like the native form. */
  def pqEncodeHof(vec: Column,
                  books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val sub = books(0)(0).length
    val codes = array((0 until m).map { j =>
      val s = slice(vec, j * sub + 1, sub)
      val cells = books(j).zipWithIndex.map { case (cvec, cid) =>
        struct((lit(-2.0) * graft.expressions.native.dot_f(s,
          typedLit(cvec.toSeq)) + lit(cvec.map(x => x * x).sum)).as("d"),
          lit(cid).as("cid"))
      }
      element_at(array_sort(array(cells.toIndexedSeq: _*)), 1)
        .getField("cid")
    }: _*)
    when(size(vec) >= m * sub, codes)
  }

  /** MinHash signature as one HOF fold over the distinct character
    * shingles: for each of `numHashes` seeds, the min of h1 + i·h2
    * (Kirsch–Mitzenmacher) over the shingles. */
  def minHashSignatures(text: Column, numHashes: Int,
                        shingleSize: Int = 5): Column = {
    val init = array_repeat(lit(Long.MaxValue), numHashes)
    aggregate(
      distinctShingles(text, shingleSize),
      init,
      (acc, s) => {
        // 31-bit base hashes: h1 + i·h2 stays far from Long overflow (ANSI
        // mode would reject wraparound arithmetic).
        val h1 = pmod(xxhash64(s), lit(2147483647L))
        val h2 = pmod(xxhash64(s, lit(1)), lit(2147483647L))
        zip_with(acc, sequence(lit(0L), lit(numHashes - 1L)),
          (m, i) => least(m, h1 + i * h2))
      })
  }

  /** 64-bit SimHash of the distinct tokens of SQL expression `textSql`:
    * per bit, the sign of the sum of ±1 votes from each token's xxhash64
    * bit. SQL text because variable shift amounts (`h >> b` with a lambda
    * variable b) have no `functions._` equivalent. */
  def simHash64(textSql: String): Column = {
    val t = textSql
    expr(s"""
      aggregate(
        zip_with(
          aggregate(
            transform(array_distinct(split(trim($t), '\\\\s+')),
                      w -> xxhash64(w)),
            array_repeat(CAST(0 AS BIGINT), 64),
            (acc, h) -> zip_with(acc, sequence(0, 63),
              (a, b) -> a + (CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))),
          sequence(0, 63),
          (v, b) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), b)
                    ELSE CAST(0 AS BIGINT) END),
        CAST(0 AS BIGINT), (acc, x) -> acc + x)""")
  }

  /** Connected components of the undirected edge list (a, b) by iterative
    * min-label propagation: label(v) ← min(label(v), min label of
    * neighbors) until fixpoint or maxIter, O(diameter) rounds. Returns
    * (v, component = min reachable id), as `Dedup.connectedComponents`. */
  def connectedComponentsDistributed(edges: DataFrame,
                                     maxIter: Int = 20): DataFrame = {
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    var labels = sym.select(col("src").as("v")).distinct()
      .withColumn("component", col("v"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val candidate = sym
        .join(labels.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(min(col("component")).as("neighborMin"))
      // The tuple round-trip after the checkpoint drops its sizeInBytes
      // estimate, which iterative joins would compound into huge BigInts
      // (see graft.Materialize).
      val next = labels.join(candidate, Seq("v"), "left")
        .select(col("v"),
          least(col("component"), coalesce(col("neighborMin"),
            col("component"))).as("component"),
          (coalesce(col("neighborMin"), col("component")) < col("component"))
            .as("__changed"))
        .localCheckpoint()
      converged = next.where(col("__changed")).isEmpty
      val spark = next.sparkSession
      import spark.implicits._
      val slim = next.drop("__changed")
        .select(col("v").cast("long"), col("component").cast("long"))
        .as[(Long, Long)].rdd
      labels = spark.createDataset(slim).toDF("v", "component")
      iter += 1
    }
    labels
  }

  /** Twin of `TextFunctions.tokenShingles` from built-ins. `sequence` steps
    * -1 when its end is below its start, so fewer than `n` tokens is
    * guarded to an empty array. */
  def tokenShinglesHof(c: Column, n: Int): Column = {
    val t = tokens(c)
    array_distinct(
      when(size(t) >= n,
        transform(sequence(lit(0), size(t) - lit(n)),
          i => concat_ws(" ", slice(t, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>")))
  }

  /** Twin of `NestedExpr.elementReduction` (the native `field_reduce`
    * kernel): the pre-r13 HOF formulation, as SQL text. */
  def reductionSql(nest: String, field: String, agg: String): String = {
    val arr = s"transform(${bq(nest)}, __r -> __r.${bq(field)})"
    val vals = s"filter($arr, __v -> __v is not null)"
    def n = s"size($vals)"
    def sumOf(a: String) = s"aggregate($a, cast(0.0 as double), (__a, __v) -> __a + __v)"
    // `transform(array(x), __b -> body)[1]` is the SQL let-binding: x is
    // evaluated ONCE even though body references it many times. Spark does
    // not CSE through HOF lambdas, so the naive formulation re-ran the
    // filter chain / fold / sort once per reference (2-3 folds per mean/std
    // — the repo's SCALING.md no-CSE rule).
    def let(bound: String, body: String => String): String =
      s"element_at(transform(array($bound), __b -> ${body("__b")}), 1)"
    agg match {
      case "count" => s"cast($n as bigint)"
      case "sum"   => sumOf(vals)
      case "min"   => s"array_min($vals)"
      case "max"   => s"array_max($vals)"
      case "mean"  => let(vals, v =>
        s"(case when size($v) = 0 then null else ${sumOf(v)} / size($v) end)")
      case "median" => let(s"array_sort($vals)", sv =>
        // divide by double(2), not the literal 2.0: Spark SQL parses 2.0 as
        // DECIMAL(2,1), which silently promotes integer-field medians to
        // DECIMAL instead of the double every other reduction returns
        s"""(case when size($sv) = 0 then null else
           | (element_at($sv, cast((size($sv) + 1) / 2 as int)) +
           |  element_at($sv, cast(size($sv) / 2 as int) + 1))
           |  / cast(2 as double) end)"""
          .stripMargin.replace("\n", " "))
      case "std" =>
        // ONE fold accumulating (n, Σv, Σv²) in a struct: per-element
        // accumulation order matches the separate folds exactly, so the
        // derived value is bit-identical to the 3-fold formulation.
        val acc = s"aggregate($vals, named_struct(" +
          "'n', cast(0 as bigint), 's', cast(0.0 as double), " +
          "'q', cast(0.0 as double)), " +
          "(__a, __v) -> named_struct('n', __a.n + 1, 's', __a.s + __v, " +
          "'q', __a.q + __v * __v))"
        let(acc, t =>
          s"""(case when $t.n <= 1 then null else
             | sqrt(greatest(0.0, ($t.q - $t.s * $t.s / $t.n)
             |   / ($t.n - 1))) end)""".stripMargin.replace("\n", " "))
    }
  }
}
