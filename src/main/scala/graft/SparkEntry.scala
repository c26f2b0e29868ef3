package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.nested.{NestedOps, NestedExpr}
import graft.nested.syntax._
import graft.sources.NestedParquet

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query takes (spark, sfDir) and returns a FLAT DataFrame whose
  * columns are aliased identically to the DuckDB oracle SQL in [[oracleSql]].
  * Doubles are rounded in both engines so value hashes match.
  */
object SparkEntry {

  private def read(s: SparkSession, dir: String, table: String): DataFrame =
    NestedParquet.readParquet(s, s"$dir/$table.parquet")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Mirrors the reference's performance.ipynb workflow: read → join_nested →
    * element query → count_nested → per-row reduce. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val orders = read(spark, dir, "orders")
    // prune the child to the used fields BEFORE the pack: the collect_list
    // shuffle must carry 3 leaves, not all 16 lineitem columns
    val lineitem = read(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    orders
      .joinNested(lineitem, Seq("l_orderkey" -> "o_orderkey"), "lines")
      .filterElements("lines", s => s.getField("l_quantity") > 10.0)
      .countNested("lines", Some("l_returnflag"), Seq("R", "A", "N"))
      .where(col("n_lines_R") > 0)
      .select(col("o_orderkey"),
        NestedOps.elementMean("lines", "l_extendedprice").as("mean_price"),
        col("n_lines_R"), col("n_lines_A"), col("n_lines_N"))
  }

  // Overload used by entry: child key named differently than base key.
  implicit private class JoinRenamed(base: DataFrame) {
    def joinNested(child: DataFrame, on: Seq[(String, String)], name: String)
      : DataFrame = {
      val renamed = on.foldLeft(child) { case (df, (from, to)) =>
        df.withColumnRenamed(from, to) }
      NestedOps.joinNested(base, renamed, on.map(_._2), name)
    }
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** Oracle-parity / alignment queries: id-capped correctness artifacts
    * whose job is to value-replay an operator's internals in DuckDB (the
    * `_exact` twins), or whose shape exists only to align with an oracle
    * (global shingle rank via distributed sort, element index replay).
    * They are NOT production paths — Bench reports `production_total`
    * with their time excluded, next to the all-in `total`. */
  val oracleParityKeys: Set[String] = Set(
    "q_minhash_pairs_exact", "q_simhash_pairs_exact",
    "q_dedup_pipeline_exact", "q_minhash_rank", "q_element_index",
    // r9: global-row_number alignment artifact for takeRows (takes are
    // small driver-side reorderings by contract; the window exists only
    // to give the oracle a deterministic position column)
    "q_take")

  /** Parity queries so expensive they distort the timed battery's noise
    * floor (q_simhash_pairs_exact's Hamming-24 star+dual-chain replay was
    * ~9% of the r5 non-headline total): correctness-gated in Verify as
    * always, but skipped by the default Bench timing loop. Must stay
    * disjoint from [[Bench.headlineKeys]] (the pinned round-1 metric). */
  val benchSkipKeys: Set[String] = Set("q_simhash_pairs_exact")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracles
}
