package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.nested.{NestedOps, NestedExpr}
import graft.nested.syntax._

/** One driver query: how to build it, the DuckDB SQL that must return the
  * same rows (None for the rows-only checks, whose engine hashes DuckDB
  * cannot replay), and the tags Bench reads. */
final case class QuerySpec(name: String, build: Queries.Q,
                           oracleSql: Option[String], tags: QuerySpec.Tag*) {
  def is(tag: QuerySpec.Tag): Boolean = tags.contains(tag)
}

object QuerySpec {
  sealed trait Tag
  /** In Bench's `headline_total`: the round-1 battery, frozen so the
    * metric measures the same work every round. */
  case object Headline extends Tag
  /** An oracle-parity or alignment artifact, not a production path: an
    * id-capped `_exact` twin that value-replays an operator's internals in
    * DuckDB, or a shape that exists only to line up with the oracle (global
    * shingle rank, element index, takeRows' row_number position). Bench
    * leaves these out of `production_total`. */
  case object Parity extends Tag
  /** A parity query so costly it distorts the timed battery's noise floor;
    * Verify checks it, Bench does not time it. */
  case object BenchSkip extends Tag
}

/** Driver contract — see SURVEY.md §7.
  *
  * Every query takes (spark, sfDir) and returns a FLAT DataFrame whose
  * columns are aliased identically to its [[QuerySpec.oracleSql]].
  * Doubles are rounded in both engines so value hashes match.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Mirrors the reference's performance.ipynb workflow: read → join_nested →
    * element query → count_nested → per-row reduce. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val orders = Queries.rd(spark, dir, "orders")
    // prune the child to the used fields BEFORE the pack: the collect_list
    // shuffle must carry 3 leaves, not all 16 lineitem columns
    val lineitem = Queries.rd(spark, dir, "lineitem")
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

  /** Every driver query, sorted by name (Bench's pass order). */
  val specs: Seq[QuerySpec] =
    (Queries.specs ++ TrainingQueries.specs ++ SurfaceQueries.specs)
      .sortBy(_.name)

  /** The specs with these names, in registry order; fails naming every
    * name the registry does not have. */
  def named(names: String*): Seq[QuerySpec] = {
    val unknown = names.distinct.filterNot(n => specs.exists(_.name == n))
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    specs.filter(q => names.contains(q.name))
  }
}
