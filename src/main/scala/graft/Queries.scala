package graft

import org.apache.spark.sql.{SparkSession, DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.nested.{NestedOps, NestedExpr}
import graft.nested.syntax._
import graft.sources.NestedParquet
import graft.QuerySpec.{Headline, Parity}

/** The oracle-checked query battery.
  *
  * Each entry exercises one operator family from SURVEY.md §2 through the
  * graft nested-ops library and ends in a FLAT result whose column names and
  * value types match its [[QuerySpec.oracleSql]] exactly
  * (driver hashes values after sorting columns by name):
  *  - counts are cast to BIGINT on the Spark side (`size` returns int);
  *  - doubles are `round(x, 2..4)` on BOTH sides;
  *  - no raw timestamp outputs (epoch millis instead).
  */
object Queries {

  private[graft] def rd(s: SparkSession, dir: String, t: String): DataFrame =
    NestedParquet.readParquet(s, s"$dir/$t.parquet")

  /** lineitem under the orders key name, pruned to `cols` — at scale, select
    * the needed fields BEFORE packing so the collect_list shuffle carries
    * slim structs, not whole rows. */
  private[graft] def lines(s: SparkSession, dir: String,
                           cols: String*): DataFrame =
    rd(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
      .select(("o_orderkey" +: cols).map(col): _*)

  /** Round a DIVISION-DERIVED double for oracle comparison. Quotients (avg,
    * interpolated percentiles) of cent-valued data frequently land exactly on
    * a rounding boundary, where Spark's vs DuckDB's last-ulp accumulation
    * differences flip the rounded digit; +1e-9 (≫ accumulated ulp error,
    * ≪ the 1/(200·n) minimum distance of non-boundary cent quotients) makes
    * both engines round boundary cases the same way. Pure sums of 2-decimal
    * values never sit on a 3rd-decimal boundary and don't need this. */
  private[graft] def roundSafe(c: Column, prec: Int): Column =
    round(c + lit(1e-9), prec)

  /** Scale-robust exact sum of PRODUCTS of 2-decimal monetary values
    * (r11, verdict item 4): a double sum of ~1e10 magnitude carries
    * accumulation-order error ~1e-5, so `round(sum(x), 2)` can land on
    * either side of a cent boundary between engines at sf1+ (the two
    * 10×-corpus near-misses). Each product is EXACTLY a 6-decimal value
    * (2dp × 2dp × 2dp); the computed double is within ulp (~2e-12) of
    * that grid point, so round(·, 6) recovers it exactly and a DECIMAL
    * sum is then order-independent and bit-identical in any engine at
    * ANY scale. Final cast back to double (exact for 2-decimal values
    * up to 2^52). The oracle mirrors the same shape. */
  private def exactSumCents(c: Column): Column =
    round(sum(round(c, 6).cast("decimal(30,6)")), 2).cast("double")

  private[graft] type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------------------
  // §2.1 construction / packing
  // ---------------------------------------------------------------------------

  /** packFlat: group-pack lineitem, per-group count + sum via element HOFs.
    * Input pruned to the one used field — Catalyst cannot prune through an
    * explicit struct(allCols) inside collect_list, so an unpruned pack
    * shuffles whole rows (8× the bytes at 100 TB). */
  val qPackFlat: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items")
    packed.select(
      col("o_orderkey").as("orderkey"),
      size(col("items")).cast("long").as("n_items"),
      round(NestedOps.elementSum("items", "l_quantity"), 2).as("sum_qty"))
  }

  /** Skew-hardened two-stage salted pack — same results as packFlat,
    * verified by the same oracle shape as q_pack_flat. */
  val qPackSalted: Q = (s, dir) => {
    val packed = NestedOps.packFlatSalted(
      lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items", saltBuckets = 8)
    packed.select(
      col("o_orderkey").as("orderkey"),
      size(col("items")).cast("long").as("n_items"),
      round(NestedOps.elementSum("items", "l_quantity"), 2).as("sum_qty"))
  }

  /** joinNested left: NULL cells for childless rows count as 0.
    * Child pruned to one field before the pack (see qPackFlat). */
  val qJoinNested: Q = (s, dir) => {
    rd(s, dir, "orders")
      .joinNested(lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items",
        "left")
      .select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("totalprice"),
        coalesce(size(col("items")), lit(0)).cast("long").as("n_items"))
  }

  /** fromFlat: split a flat join back into base + nested. */
  val qFromFlat: Q = (s, dir) => {
    val flat = rd(s, dir, "orders").join(
      rd(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
      Seq("o_orderkey"))
    NestedOps.fromFlat(flat, Seq("o_totalprice"),
        Seq("l_quantity", "l_extendedprice"), Seq("o_orderkey"), "items")
      .select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("totalprice"),
        size(col("items")).cast("long").as("n_items"),
        round(NestedOps.elementSum("items", "l_extendedprice"), 2).as("sum_price"))
  }

  /** toLists → fromLists round-trip, then flatten and aggregate. */
  val qListsRoundtrip: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_extendedprice", "l_returnflag"),
      Seq("o_orderkey"), "items")
    val asLists = packed.toLists("items", baseCols = Seq("o_orderkey"))
    val rezipped = asLists.fromLists(
      Seq("l_quantity", "l_extendedprice", "l_returnflag"), "items")
    rezipped.toFlat("items", baseCols = Seq("o_orderkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  // ---------------------------------------------------------------------------
  // §2.2 projection / §2.5 reshape
  // ---------------------------------------------------------------------------

  /** Hierarchical projection nf["items.l_quantity"] → flat, then agg. */
  val qGetSub: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items")
    NestedOps.getSubColumn(packed, "items.l_quantity", Seq("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(countDistinct(col("l_quantity")).as("n_distinct_qty"))
      .withColumnRenamed("o_orderkey", "orderkey")
  }

  /** explode (inline) a nest keeping base columns, then aggregate. */
  val qExplode: Q = (s, dir) => {
    rd(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      .joinNested(lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items", "inner")
      .explodeNested("items")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** flattenInner: customer→orders→lineitem double nest hoisted one level. */
  val qFlattenInner: Q = (s, dir) => {
    val ordersWithLines = rd(s, dir, "orders").select("o_orderkey", "o_custkey")
      .joinNested(lines(s, dir, "l_extendedprice"), Seq("o_orderkey"), "lines",
        "inner")
    val byCust = NestedOps.packFlat(ordersWithLines, Seq("o_custkey"), "orders")
    NestedOps.flattenInner(byCust, "orders", "lines")
      .select(col("o_custkey").as("custkey"),
        size(col("orders")).cast("long").as("n_items"),
        round(NestedOps.elementSum("orders", "l_extendedprice"), 2).as("sum_price"))
  }

  /** split by categorical field into per-value nests. */
  val qSplit: Q = (s, dir) => {
    NestedOps.packFlat(
      lines(s, dir, "l_linestatus"), Seq("o_orderkey"), "items")
      .splitNested("items", "l_linestatus", Seq("O", "F"))
      .select(col("o_orderkey").as("orderkey"),
        coalesce(size(col("items_O")), lit(0)).cast("long").as("n_open"),
        coalesce(size(col("items_F")), lit(0)).cast("long").as("n_filled"))
  }

  // ---------------------------------------------------------------------------
  // §2.3 filters / predicates
  // ---------------------------------------------------------------------------

  /** Element-level filter dropping emptied rows (.nest.query semantics). */
  val qNestFilter: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_extendedprice"), Seq("o_orderkey"), "items")
    NestedOps.filterElementsDropEmpty(packed, "items",
        e => e.getField("l_quantity") > 25.0)
      .select(col("o_orderkey").as("orderkey"),
        size(col("items")).cast("long").as("n"),
        roundSafe(NestedOps.elementMean("items", "l_extendedprice"), 2).as("avg_price"))
  }

  /** The string query dialect: element filter keeps rows, then flatten-agg. */
  val qQueryDialect: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_discount", "l_returnflag", "l_extendedprice"),
      Seq("o_orderkey"), "items")
    NestedExpr.query(packed, "items.l_discount > 0.05")
      .toFlat("items")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
  }

  /** Extended pandas-eval dialect forms in ONE oracled query: `in`-list,
    * chained comparison, `~` negation, `&` masks, `.str` method, and `//`
    * floor division — the r7 preprocessing surface, driver-gated against
    * DuckDB replaying the same predicate in plain SQL. */
  val qDialectExt: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_returnflag", "l_extendedprice"),
      Seq("o_orderkey"), "items")
    NestedExpr.query(packed,
      "items.l_returnflag.str.lower() in ['r', 'n'] & " +
        "(5 < items.l_quantity < 30) & " +
        "~(items.l_extendedprice // 1000 == 0)")
      .toFlat("items")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** The round-8 `.str` long-tail surface in ONE oracled query: zfill,
    * python slice, regex count, find, split + chained get(0)/get(-1)/
    * len(), non-truncating rjust, and center with CPython's parity rule
    * — each computed per ELEMENT through eval assignments on a nested
    * frame, then value-hash-checked against DuckDB replaying the same
    * string semantics in plain SQL (strpos/substr/string_split/list
    * indexing). */
  val qDialectStr: Q = (s, dir) => {
    val d = rd(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val packed = NestedOps.packFlat(d, Seq("lang"), "n",
      sortBy = Seq(("doc_id", true)))
    NestedExpr.eval(packed,
      """n.z = n.source.str.zfill(10)
        |n.sl = n.source.str.slice(2, 7)
        |n.cnt = n.text.str.count('e')
        |n.fnd = n.text.str.find('data')
        |n.tok = n.text.str.split(' ').str.get(0)
        |n.ltk = n.text.str.split(' ').str.get(-1)
        |n.ntk = n.text.str.split(' ').str.len()
        |n.rj = n.source.str.rjust(8, '.')
        |n.ctr = n.source.str.center(9, '*')""".stripMargin)
      .toFlat("n")
      .select(col("doc_id"), col("z"), col("sl"),
        col("cnt").cast("long").as("cnt"), col("fnd").cast("long").as("fnd"),
        col("tok"), col("ltk"), col("ntk").cast("long").as("ntk"),
        col("rj"), col("ctr"))
  }

  /** `.dt` accessor surface end-to-end (r9): events packed per user, a
    * dt element filter through the query dialect, then eval computing
    * attribute / strftime / normalize columns — DuckDB replays the same
    * date arithmetic natively (oracle). Fuzz corpus: tools/dt_fuzz.py. */
  val qDialectDt: Q = (s, dir) => {
    val e = rd(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val packed = NestedOps.packFlat(e, Seq("user_id"), "ev",
      sortBy = Seq(("event_id", true)))
    val filtered = NestedExpr.query(packed, "ev.ts.dt.month <= 6")
    NestedExpr.eval(filtered,
      """ev.yr = ev.ts.dt.year
        |ev.dow = ev.ts.dt.dayofweek
        |ev.doy = ev.ts.dt.dayofyear
        |ev.qtr = ev.ts.dt.quarter
        |ev.dim = ev.ts.dt.days_in_month
        |ev.day0 = ev.ts.dt.normalize()
        |ev.lab = ev.ts.dt.strftime('%Y-%m')
        |ev.dn = ev.ts.dt.day_name()
        |ev.mn = ev.ts.dt.month_name()
        |ev.rh = ev.ts.dt.round('h')
        |ev.c15 = ev.ts.dt.ceil('15min')
        |ev.nns = ev.ts.dt.nanosecond""".stripMargin)
      .toFlat("ev")
      .select(col("event_id"),
        col("yr").cast("long").as("yr"), col("dow").cast("long").as("dow"),
        col("doy").cast("long").as("doy"), col("qtr").cast("long").as("qtr"),
        col("dim").cast("long").as("dim"), col("day0"), col("lab"),
        col("dn"), col("mn"), col("rh"), col("c15"),
        col("nns").cast("long").as("nns"))
  }

  /** Base-column + dt-derived GLOBAL eval reductions and `.dt` method
    * chains (r9 dialect extensions, reference-executed fuzz families in
    * tools/dt_fuzz.py + tools/dialect_fuzz.py): `nv.mean()` and
    * `t0.dt.dayofyear.mean()` are single global scalars broadcast to
    * every row — batched into ONE lazy broadcast agg, zero eager jobs —
    * and `t0.dt.floor('D').dt.year` chains through a method result. */
  val qEvalReduceBase: Q = (s, dir) => {
    val ev = rd(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val base = ev.groupBy("user_id")
      .agg(min(col("ts")).as("t0"), count(lit(1)).as("nv"))
    val packed = NestedOps.packFlat(
      ev.select("user_id", "event_id", "value"), Seq("user_id"), "ev",
      sortBy = Seq(("event_id", true)))
    NestedExpr.eval(base.join(packed, Seq("user_id")),
      """dv = nv - nv.mean()
        |dd = t0.dt.dayofyear - t0.dt.dayofyear.mean()
        |y0 = t0.dt.floor('D').dt.year
        |lab = t0.dt.normalize().dt.strftime('%Y-%m-%d')""".stripMargin)
      .select(col("user_id"),
        round(col("dv") + lit(1e-9), 4).as("dv"),
        round(col("dd") + lit(1e-9), 4).as("dd"),
        col("y0").cast("long").as("y0"), col("lab"),
        size(col("ev")).cast("long").as("n_ev"))
  }

  /** dropna / fillna on nested elements (nulls synthesized deterministically). */
  val qDropnaFillna: Q = (s, dir) => {
    // feeds BOTH the dropna and the fillna branch of the cross join
    val packed = Materialize(NestedOps.packFlat(
      lines(s, dir, "l_discount"), Seq("o_orderkey"), "items")
      .withNestedField("items", "disc",
        e => when(e.getField("l_discount") < 0.03, lit(null))
          .otherwise(e.getField("l_discount"))))
    val dropped = NestedOps.dropNaElements(packed, "items", Seq("disc"))
    val filled = NestedOps.fillNaElements(packed, "items", Map("disc" -> 0.0))
    val a = dropped.agg(sum(size(col("items"))).cast("long").as("n_after_dropna"))
    val b = filled.select(explode(col("items")).as("e"))
      .agg(round(sum(col("e.disc")), 4).as("sum_after_fillna"))
    a.crossJoin(b)
  }

  // ---------------------------------------------------------------------------
  // §2.4 mutation
  // ---------------------------------------------------------------------------

  /** withNestedField closing over element fields. */
  val qWithField: Q = (s, dir) => {
    NestedOps.packFlat(
      lines(s, dir, "l_extendedprice", "l_discount", "l_returnflag"),
      Seq("o_orderkey"), "items")
      .withNestedField("items", "revenue",
        e => e.getField("l_extendedprice") * (lit(1.0) - e.getField("l_discount")))
      .toFlat("items")
      .groupBy("l_returnflag")
      .agg(exactSumCents(col("revenue")).as("sum_revenue"))
  }

  /** eval-assignment string dialect creating a new nested field. */
  val qEvalAssign: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_extendedprice", "l_discount", "l_tax", "l_linestatus"),
      Seq("o_orderkey"), "items")
    NestedExpr.evalAssign(packed,
        "items.charge = items.l_extendedprice * (1 - items.l_discount) * (1 + items.l_tax)")
      .toFlat("items")
      .groupBy("l_linestatus")
      .agg(exactSumCents(col("charge")).as("sum_charge"))
  }

  /** Multiline eval in the reference's DEFAULT (inplace=False) mode: the
    * nested layer is FROZEN per-line, so line 2's read of
    * `items.l_extendedprice` sees the PRE-eval value even though line 1
    * rewrote it — the distinguishing read-after-write shape (sequential
    * semantics would double the charge). Reference expr.py:77-128. */
  val qEvalDefault: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_extendedprice", "l_tax", "l_linestatus"),
      Seq("o_orderkey"), "items")
    NestedExpr.eval(packed,
        """items.l_extendedprice = items.l_extendedprice * 2
          |items.charge = items.l_extendedprice * (1 + items.l_tax)""".stripMargin,
        inplace = false)
      .toFlat("items")
      .groupBy("l_linestatus")
      .agg(exactSumCents(col("charge")).as("sum_charge"),
        exactSumCents(col("l_extendedprice")).as("sum_price2"))
  }

  // ---------------------------------------------------------------------------
  // §2.6 aggregations
  // ---------------------------------------------------------------------------

  /** count_nested(by=...) per-row pivot counts. */
  val qCountNestedBy: Q = (s, dir) => {
    NestedOps.packFlat(
      lines(s, dir, "l_returnflag"), Seq("o_orderkey"), "items")
      .countNested("items", Some("l_returnflag"), Seq("R", "A", "N"))
      .select(col("o_orderkey").as("orderkey"),
        col("n_items_R").cast("long").as("n_r"),
        col("n_items_A").cast("long").as("n_a"),
        col("n_items_N").cast("long").as("n_n"))
  }

  /** min/max across base cols and nested fields in one aggregate.
    * Child pruned to the one aggregated field before the pack. */
  val qMinMax: Q = (s, dir) => {
    rd(s, dir, "orders")
      .joinNested(lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items",
        "inner")
      .agg(
        round(min(col("o_totalprice")), 2).as("min_total"),
        round(max(col("o_totalprice")), 2).as("max_total"),
        round(min(NestedOps.elementMin("items", "l_quantity")), 2).as("min_qty"),
        round(max(NestedOps.elementMax("items", "l_quantity")), 2).as("max_qty"))
  }

  /** describe: count/mean/std/quartiles over a nested field (exact percentile). */
  val qDescribe: Q = (s, dir) => {
    // all three quartiles from ONE array-percentile aggregate (each
    // separate percentile(c, p) keeps its own full value buffer); values
    // are computed by the exact same algorithm, so results are unchanged
    NestedOps.packFlat(
      lines(s, dir, "l_extendedprice"), Seq("o_orderkey"), "items")
      .toFlat("items")
      .agg(
        count(col("l_extendedprice")).as("cnt"),
        roundSafe(avg(col("l_extendedprice")), 2).as("mean"),
        roundSafe(stddev_samp(col("l_extendedprice")), 2).as("std"),
        round(min(col("l_extendedprice")), 2).as("mn"),
        expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").as("__q"),
        round(max(col("l_extendedprice")), 2).as("mx"))
      .select(col("cnt"), col("mean"), col("std"), col("mn"),
        roundSafe(element_at(col("__q"), 1), 2).as("q25"),
        roundSafe(element_at(col("__q"), 2), 2).as("q50"),
        roundSafe(element_at(col("__q"), 3), 2).as("q75"),
        col("mx"))
  }

  // ---------------------------------------------------------------------------
  // §2.7 within-cell sort
  // ---------------------------------------------------------------------------

  /** sort elements desc by shipdate (tie: linenumber), take head per row. */
  val qSortHead: Q = (s, dir) => {
    NestedOps.packFlat(
      lines(s, dir, "l_shipdate", "l_linenumber", "l_extendedprice",
        "l_partkey", "l_suppkey"),
      Seq("o_orderkey"), "items",
        sortBy = Seq(("l_shipdate", false), ("l_linenumber", true),
          ("l_extendedprice", true), ("l_partkey", true), ("l_suppkey", true)))
      .select(col("o_orderkey").as("orderkey"),
        round(element_at(col("items"), 1).getField("l_extendedprice"), 2)
          .as("latest_price"))
  }

  // ---------------------------------------------------------------------------
  // §2.10 map_rows (fused element reduce)
  // ---------------------------------------------------------------------------

  /** The reference's flagship reduce: per-row mean over a nested field.
    * Pack input pruned to the two reduced fields. */
  val qMapRowsMean: Q = (s, dir) => {
    NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_extendedprice"), Seq("o_orderkey"),
      "items")
      .select(col("o_orderkey").as("orderkey"),
        roundSafe(NestedOps.elementMean("items", "l_quantity"), 4).as("mean_qty"),
        round(NestedOps.elementMax("items", "l_extendedprice") -
          NestedOps.elementMin("items", "l_extendedprice"), 2).as("amplitude"))
  }

  // ---------------------------------------------------------------------------
  // windows / events (inherited surface hardened for scale)
  // ---------------------------------------------------------------------------

  /** events with `ts` normalized to a wall-clock epoch-NANOS long across
    * every parquet encoding the driver has shipped: TIMESTAMP(NANOS)
    * (read as a ns long under `spark.sql.legacy.parquet.nanosAsLong`,
    * rounds 1-6), TIMESTAMP(MICROS) NTZ (round 7 regeneration — read as
    * TIMESTAMP_NTZ; zone-free calendar-field extraction, matching what
    * DuckDB's epoch_ns computes on the same naive values), and a
    * session-zoned TimestampType for completeness. Downstream query code
    * keeps its exact integer-nanos arithmetic unchanged. */
  private[graft] def rdEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    ev.schema("ts").dataType match {
      case LongType => ev
      case TimestampNTZType => ev.withColumn("ts",
        graft.operators.Joins.ntzWallClockMicros(col("ts")) * lit(1000L))
      case TimestampType => ev.withColumn("ts",
        unix_micros(col("ts")) * lit(1000L))
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported parquet read type $other")
    }
  }

  /** Sessionization via lag window: 30-minute gap starts a new session.
    * All arithmetic stays in exact integer milliseconds (`DIV`) over the
    * [[rdEvents]]-normalized ns epoch. */
  val qSessionize: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    rdEvents(s, dir)
      .withColumn("ms", expr("ts DIV 1000000"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** Shared clicks-to-purchases as-of shape for the three direction
    * queries: the union-sweep plan of [[graft.operators.Joins.asofJoin]]
    * (one keyed shuffle, one ordered window, no range-join pair blow-up),
    * varying only in (direction, tolerance). */
  private def asofClickPurchase(s: SparkSession, dir: String,
                                direction: String,
                                tolerance: Option[Long]): DataFrame = {
    val ev = rdEvents(s, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("p_event_id"), col("value").as("p_value"))
    graft.operators.Joins.asofJoin(clicks, purchases, "user_id", "ts",
        rightTieBreak = Seq("p_event_id"), direction = direction,
        tolerance = tolerance)
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000000").as("ms"),
        col("p_event_id"), col("p_value"))
  }

  /** As-of BACKWARD: each click matched to the user's latest purchase at
    * or before it. Oracle: DuckDB's native ASOF LEFT JOIN — an
    * INDEPENDENT implementation of the semantics. */
  val qAsofJoin: Q = (s, dir) => asofClickPurchase(s, dir, "backward", None)

  /** As-of FORWARD with a tolerance: the EARLIEST purchase at-or-after
    * each click, but only within 3 days — pandas
    * `merge_asof(direction="forward", tolerance=...)`. Oracle: DuckDB's
    * native ASOF with the inequality flipped + a CASE distance gate. */
  val qAsofForward: Q = (s, dir) =>
    asofClickPurchase(s, dir, "forward", Some(3L * 24 * 3600 * 1000000000L))

  /** As-of NEAREST: the closest purchase in absolute time, ties to the
    * backward side — pandas `merge_asof(direction="nearest")`. Oracle:
    * both DuckDB ASOF directions composed with the distance CASE. */
  val qAsofNearest: Q = (s, dir) => asofClickPurchase(s, dir, "nearest", None)

  /** The clicks/purchases as-of shape over a real TimestampType ts column
    * (normalized ns epoch truncated to micros), exercising the timestamp
    * tolerance path: tolerance is in MILLISECONDS, like pandas
    * `merge_asof(tolerance=Timedelta(...))` on datetime64 keys
    * (reference merge_asof usage on astronomy time series). */
  private def asofTsClickPurchase(s: SparkSession, dir: String,
                                  direction: String,
                                  toleranceMs: Option[Long],
                                  ntz: Boolean = false): DataFrame = {
    val tsCast =
      if (ntz) timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz")
      else timestamp_micros(expr("ts DIV 1000"))
    val ev = rdEvents(s, dir).withColumn("tst", tsCast)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tst"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("tst"),
        col("event_id").as("p_event_id"), col("value").as("p_value"))
    graft.operators.Joins.asofJoin(clicks, purchases, "user_id", "tst",
        rightTieBreak = Seq("p_event_id"), direction = direction,
        tolerance = toleranceMs)
      .select(col("event_id"), col("user_id"),
        // NTZ→TS for the output epoch is exact under the pinned-UTC
        // session (distance arithmetic inside the join is zone-free)
        unix_millis(if (ntz) col("tst").cast("timestamp") else col("tst"))
          .as("ms"),
        col("p_event_id"), col("p_value"))
  }

  /** As-of backward on a TIMESTAMP key with a 3-day MILLISECOND tolerance
    * (pandas Timedelta parity). Oracle: DuckDB native ASOF on the
    * timestamp column + an epoch_us distance CASE. */
  val qAsofTsTol: Q = (s, dir) =>
    asofTsClickPurchase(s, dir, "backward", Some(3L * 24 * 3600 * 1000))

  /** Same shape on a TIMESTAMP_NTZ key — drives the calendar-field
    * (zone-free) distance path; pandas merge_asof on NAIVE datetimes.
    * Oracle: DuckDB's TIMESTAMP is itself zone-less, so the q_asof_ts_tol
    * SQL replays these semantics verbatim. */
  val qAsofNtzTol: Q = (s, dir) =>
    asofTsClickPurchase(s, dir, "backward", Some(3L * 24 * 3600 * 1000),
      ntz = true)

  /** As-of nearest on a TIMESTAMP key — the interval-free distance
    * arithmetic path (epoch-micros comparison inside the sweep). */
  val qAsofTsNearest: Q = (s, dir) =>
    asofTsClickPurchase(s, dir, "nearest", None)

  /** Banded interval join: purchases within 7 days at-or-after each signup
    * (per user). The band trick turns the inequality join into an
    * equi-join on (key, band) + residual filter; DuckDB replays the plain
    * inequality join as the independent oracle. */
  val qRangeJoin: Q = (s, dir) => {
    val weekNs = 7L * 24 * 3600 * 1000000000L
    val ev = rdEvents(s, dir)
    val signups = ev.where(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.Joins.rangeJoin(signups, purchases, "user_id", "ts",
        windowLen = weekNs)
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000000").as("ms"),
        col("r_event_id").as("p_event_id"),
        expr("r_ts DIV 1000000").as("p_ms"),
        col("r_value").as("p_value"))
  }

  // ---------------------------------------------------------------------------
  // map_rows / IO / reshape extensions
  // ---------------------------------------------------------------------------

  /** mapRows imperative kernel (the reference's njit max_slope example,
    * docs njit_map_rows.ipynb): max |Δprice| over shipdate-ordered items. */
  val qMapRowsKernel: Q = (s, dir) => {
    import org.apache.spark.sql.types._
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_shipdate", "l_linenumber", "l_extendedprice",
        "l_partkey", "l_suppkey"),
      Seq("o_orderkey"), "items",
      sortBy = Seq(("l_shipdate", true), ("l_linenumber", true),
        ("l_extendedprice", true), ("l_partkey", true), ("l_suppkey", true)))
    graft.nested.MapRows.mapRows(packed,
      Seq("o_orderkey", "items.l_extendedprice"),
      StructType(Seq(StructField("orderkey", LongType),
        StructField("max_jump", DoubleType)))) { case Seq(k, prices) =>
      val p = prices.asInstanceOf[Seq[Double]]
      // imperative loop instead of sliding(2).map(...).max: the sliding
      // form allocated one window Seq + boxed pair per element (this IS
      // the "compiled kernel" surface — per-task work, guide §1.2.2);
      // same total-order max semantics (a NaN diff wins, like Seq.max)
      val jump: Any = if (p.length < 2) null
      else {
        val it = p.iterator
        var prev = it.next(); var mx = Double.NegativeInfinity
        while (it.hasNext) {
          val cur = it.next(); val d = math.abs(cur - prev)
          if (d > mx || d.isNaN) mx = d
          prev = cur
        }
        mx
      }
      Seq(k, jump)
    }.withColumn("max_jump", round(col("max_jump"), 2))
  }

  /** Struct-of-list parquet round-trip (the reference's on-disk encoding):
    * write transposed, read back with auto-cast, aggregate. */
  val qStructOfList: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_returnflag"), Seq("o_orderkey"), "items")
    val path = s"/tmp/graft_sol_roundtrip"
    graft.sources.NestedParquet.writeStructOfList(packed, path)
    graft.sources.NestedParquet.readCompat(s, path)
      .toFlat("items")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** Generic describe operator (long format) over a nested numeric field. */
  val qDescribeAll: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items")
    // exactRowLimit=MaxValue: the oracle PINS exact percentile semantics
    // vs DuckDB, so the cliff guard (which would pre-count each layer and
    // auto-route to the sketch) is explicitly disabled here
    NestedOps.describeAll(packed.drop("o_orderkey"),
      exactRowLimit = Long.MaxValue)
      .select(col("column"), col("stat"),
        roundSafe(col("value"), 4).as("value"))
  }

  /** explodeAligned over toLists output: multi-column aligned explode. */
  val qExplodeAligned: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_returnflag"), Seq("o_orderkey"), "items")
    val asLists = packed.toLists("items", baseCols = Seq("o_orderkey"))
    NestedOps.explodeAligned(asLists, Seq("l_quantity", "l_returnflag"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** get_list_index: per-element ordinals, used to pick each cell's head. */
  val qElementIndex: Q = (s, dir) => {
    val packed = NestedOps.packFlat(
      lines(s, dir, "l_quantity", "l_extendedprice", "l_partkey", "l_suppkey",
        "l_linenumber"),
      Seq("o_orderkey"), "items",
      sortBy = Seq(("l_quantity", true), ("l_extendedprice", true),
        ("l_partkey", true), ("l_suppkey", true), ("l_linenumber", true)))
    NestedOps.withElementIndex(packed, "items")
      .toFlat("items", baseCols = Seq("o_orderkey"))
      .where(col("idx") === 0)
      .select(col("o_orderkey").as("orderkey"),
        round(col("l_extendedprice"), 2).as("min_qty_price"))
  }

  /** rollup / grouping sets over a frame CARRYING a nested column — the
    * §2.8 claim ("nested columns survive the inherited surface") made
    * checkable: the nest rides through the rollup via per-row counts. */
  val qRollup: Q = (s, dir) => {
    rd(s, dir, "orders")
      .joinNested(lines(s, dir, "l_quantity"), Seq("o_orderkey"), "items",
        "inner")
      .withColumn("n_items", size(col("items")).cast("long"))
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("n_items")).as("n_items"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("n_items"))
  }

  /** set operations (§2.8): parts shipped in BOTH linestatus O and F,
    * minus a returned-flag exclusion — intersect + except through Spark's
    * built-ins. */
  val qSetOps: Q = (s, dir) => {
    val li = rd(s, dir, "lineitem")
    val inO = li.where(col("l_linestatus") === "O").select("l_partkey")
    val inF = li.where(col("l_linestatus") === "F").select("l_partkey")
    val returned = li.where(col("l_returnflag") === "R" &&
      col("l_quantity") > 45).select("l_partkey")
    inO.intersect(inF).except(returned)
      .withColumnRenamed("l_partkey", "partkey")
  }

  // ---------------------------------------------------------------------------
  // registry: one QuerySpec per query, with its DuckDB oracle SQL
  // ---------------------------------------------------------------------------

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_asof_join", qAsofJoin, Some(
      """SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ms,
        | r.event_id AS p_event_id, r.value AS p_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),
    // forward ASOF (inequality flipped) + a 3-day tolerance gate; the
    // CASE nulls the payload beyond the bound, like the Spark side
    QuerySpec("q_asof_forward", qAsofForward, Some(
      """SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ms,
        | CASE WHEN epoch_ns(r.ts) - epoch_ns(l.ts)
        |        <= CAST(259200 AS BIGINT) * 1000000000
        |      THEN r.event_id END AS p_event_id,
        | CASE WHEN epoch_ns(r.ts) - epoch_ns(l.ts)
        |        <= CAST(259200 AS BIGINT) * 1000000000
        |      THEN r.value END AS p_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin)),
    // nearest = both ASOF directions + the distance CASE (tie → backward)
    QuerySpec("q_asof_nearest", qAsofNearest, Some(
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase'),
        |b AS (SELECT l.event_id, r.event_id AS b_id, r.value AS b_value,
        |             r.ts AS b_ts
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l.event_id, r.event_id AS f_id, r.value AS f_value,
        |             r.ts AS f_ts
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ms,
        |  CASE WHEN b_id IS NULL THEN f_id
        |       WHEN f_id IS NULL THEN b_id
        |       WHEN epoch_ns(l.ts) - epoch_ns(b_ts)
        |         <= epoch_ns(f_ts) - epoch_ns(l.ts) THEN b_id
        |       ELSE f_id END AS p_event_id,
        |  CASE WHEN b_id IS NULL THEN f_value
        |       WHEN f_id IS NULL THEN b_value
        |       WHEN epoch_ns(l.ts) - epoch_ns(b_ts)
        |         <= epoch_ns(f_ts) - epoch_ns(l.ts) THEN b_value
        |       ELSE f_value END AS p_value
        |FROM l LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)""".stripMargin)),
    // timestamp-key as-of with a 3-day MILLISECOND tolerance: native ASOF
    // + epoch_us distance CASE. The Spark side matches on µs timestamps
    // (normalized ns DIV 1000) and the oracle's CAST floors any
    // finer-grained encoding to µs the same way (verified ≡ DIV 1000 for
    // positive epochs): parity holds by construction for every events.ts
    // encoding the driver has shipped (ns in rounds 1-6, µs since r7).
    QuerySpec("q_asof_ts_tol", qAsofTsTol, Some(
      """SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ms,
        | CASE WHEN epoch_us(l.ts) - epoch_us(r.ts)
        |        <= CAST(259200000 AS BIGINT) * 1000
        |      THEN r.event_id END AS p_event_id,
        | CASE WHEN epoch_us(l.ts) - epoch_us(r.ts)
        |        <= CAST(259200000 AS BIGINT) * 1000
        |      THEN r.value END AS p_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT event_id, user_id,
        |        CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |      WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),
    // NTZ twin: DuckDB TIMESTAMP is zone-less, so the identical SQL
    // replays the naive-datetime (wall-clock) semantics
    QuerySpec("q_asof_ntz_tol", qAsofNtzTol, Some(
      """SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ms,
        | CASE WHEN epoch_us(l.ts) - epoch_us(r.ts)
        |        <= CAST(259200000 AS BIGINT) * 1000
        |      THEN r.event_id END AS p_event_id,
        | CASE WHEN epoch_us(l.ts) - epoch_us(r.ts)
        |        <= CAST(259200000 AS BIGINT) * 1000
        |      THEN r.value END AS p_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT event_id, user_id,
        |        CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |      WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),
    // the .str long-tail surface replayed in plain DuckDB string SQL;
    // `ctr` spells out CPython's center parity rule (extra fill LEFT only
    // when margin and width are both odd — width 9 here, so left =
    // marg//2 + marg%2)
    QuerySpec("q_dialect_str", qDialectStr, Some(
      """SELECT doc_id,
        | repeat('0', greatest(10 - length(source), 0)) || source AS z,
        | substr(source, least(2, length(source)) + 1,
        |   greatest(least(7, length(source)) - least(2, length(source)),
        |            0)) AS sl,
        | CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT)
        |   AS cnt,
        | CAST(strpos(text, 'data') - 1 AS BIGINT) AS fnd,
        | string_split(text, ' ')[1] AS tok,
        | string_split(text, ' ')[-1] AS ltk,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS ntk,
        | repeat('.', greatest(8 - length(source), 0)) || source AS rj,
        | repeat('*', greatest(9 - length(source), 0) // 2
        |             + greatest(9 - length(source), 0) % 2)
        |   || source ||
        |   repeat('*', greatest(9 - length(source), 0)
        |               - (greatest(9 - length(source), 0) // 2
        |                  + greatest(9 - length(source), 0) % 2)) AS ctr
        |FROM documents""".stripMargin)),
    // pandas dayofweek is Monday=0 -> DuckDB isodow(Mon=1) - 1.
    // round('h') on the ELEMENT layer is arrow HALF-UP = floor(m + u/2)
    // in epoch micros; ceil = (m + u - 1) // u * u. NOTE: DuckDB `//`
    // TRUNCATES toward zero (SELECT (-7)//2 = -3), so these identities
    // hold only for POSITIVE epoch micros — fine here (events are all
    // post-2020) but NOT a general pre-epoch replay; graft's own pmod
    // arithmetic is floor-correct for all signs. nanosecond ≡ 0 for µs.
    QuerySpec("q_dialect_dt", qDialectDt, Some(
      """SELECT event_id,
        | CAST(year(ts) AS BIGINT) AS yr,
        | CAST(isodow(ts) - 1 AS BIGINT) AS dow,
        | CAST(dayofyear(ts) AS BIGINT) AS doy,
        | CAST(quarter(ts) AS BIGINT) AS qtr,
        | CAST(day(last_day(ts)) AS BIGINT) AS dim,
        | date_trunc('day', ts) AS day0,
        | strftime(ts, '%Y-%m') AS lab,
        | dayname(ts) AS dn,
        | monthname(ts) AS mn,
        | make_timestamp(((epoch_us(ts) + 1800000000) // 3600000000)
        |                * 3600000000) AS rh,
        | make_timestamp(((epoch_us(ts) + 899999999) // 900000000)
        |                * 900000000) AS c15,
        | CAST(0 AS BIGINT) AS nns
        |FROM events
        |WHERE month(ts) <= 6""".stripMargin)),
    // global Series reductions (avg OVER ()) broadcast to every row —
    // pandas eval `nv.mean()` / `t0.dt.dayofyear.mean()` semantics
    QuerySpec("q_eval_reduce_base", qEvalReduceBase, Some(
      """WITH base AS (
        |  SELECT user_id, min(ts) AS t0, count(*) AS nv
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  round(nv - avg(nv) OVER () + 1e-9, 4) AS dv,
        |  round(dayofyear(t0) - avg(dayofyear(t0)) OVER () + 1e-9, 4) AS dd,
        |  CAST(year(date_trunc('day', t0)) AS BIGINT) AS y0,
        |  strftime(date_trunc('day', t0), '%Y-%m-%d') AS lab,
        |  nv AS n_ev
        |FROM base""".stripMargin)),
    QuerySpec("q_dialect_ext", qDialectExt, Some(
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE lower(l_returnflag) IN ('r', 'n')
        |  AND l_quantity > 5 AND l_quantity < 30
        |  AND floor(l_extendedprice / 1000) <> 0
        |GROUP BY l_returnflag""".stripMargin)),
    // same µs-truncation-by-construction as q_asof_ts_tol above
    QuerySpec("q_asof_ts_nearest", qAsofTsNearest, Some(
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |        value FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT l.event_id, r.event_id AS b_id, r.value AS b_value,
        |             r.ts AS b_ts
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l.event_id, r.event_id AS f_id, r.value AS f_value,
        |             r.ts AS f_ts
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ms,
        |  CASE WHEN b_id IS NULL THEN f_id
        |       WHEN f_id IS NULL THEN b_id
        |       WHEN epoch_us(l.ts) - epoch_us(b_ts)
        |         <= epoch_us(f_ts) - epoch_us(l.ts) THEN b_id
        |       ELSE f_id END AS p_event_id,
        |  CASE WHEN b_id IS NULL THEN f_value
        |       WHEN f_id IS NULL THEN b_value
        |       WHEN epoch_us(l.ts) - epoch_us(b_ts)
        |         <= epoch_us(f_ts) - epoch_us(l.ts) THEN b_value
        |       ELSE f_value END AS p_value
        |FROM l LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)""".stripMargin)),
    QuerySpec("q_range_join", qRangeJoin, Some(
      """SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ms,
        | r.event_id AS p_event_id, epoch_ms(r.ts) AS p_ms,
        | r.value AS p_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'signup') l
        |JOIN (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND r.ts >= l.ts
        |    AND epoch_ns(r.ts) < epoch_ns(l.ts)
        |      + CAST(604800 AS BIGINT) * 1000000000""".stripMargin)),
    QuerySpec("q_pack_salted", qPackSalted, Some(
      """SELECT l_orderkey AS orderkey, count(*) AS n_items,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_orderkey""".stripMargin), Headline),
    QuerySpec("q_pack_flat", qPackFlat, Some(
      """SELECT l_orderkey AS orderkey, count(*) AS n_items,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_orderkey""".stripMargin), Headline),
    QuerySpec("q_join_nested", qJoinNested, Some(
      """SELECT o_orderkey, round(o_totalprice, 2) AS totalprice,
        | count(l_orderkey) AS n_items
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_totalprice""".stripMargin), Headline),
    QuerySpec("q_from_flat", qFromFlat, Some(
      """SELECT o_orderkey, round(o_totalprice, 2) AS totalprice,
        | count(*) AS n_items, round(sum(l_extendedprice), 2) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_totalprice""".stripMargin), Headline),
    QuerySpec("q_lists_roundtrip", qListsRoundtrip, Some(
      "SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_qty FROM lineitem"), Headline),
    QuerySpec("q_get_sub", qGetSub, Some(
      """SELECT l_orderkey AS orderkey,
        | count(DISTINCT l_quantity) AS n_distinct_qty
        |FROM lineitem GROUP BY l_orderkey""".stripMargin), Headline),
    QuerySpec("q_explode", qExplode, Some(
      """SELECT o_orderpriority, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin), Headline),
    QuerySpec("q_flatten_inner", qFlattenInner, Some(
      """SELECT o_custkey AS custkey, count(*) AS n_items,
        | round(sum(l_extendedprice), 2) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_custkey""".stripMargin), Headline),
    QuerySpec("q_split", qSplit, Some(
      """SELECT l_orderkey AS orderkey,
        | count(*) FILTER (WHERE l_linestatus = 'O') AS n_open,
        | count(*) FILTER (WHERE l_linestatus = 'F') AS n_filled
        |FROM lineitem GROUP BY l_orderkey""".stripMargin), Headline),
    QuerySpec("q_nest_filter", qNestFilter, Some(
      """SELECT l_orderkey AS orderkey, count(*) AS n,
        | round(avg(l_extendedprice) + 1e-9, 2) AS avg_price
        |FROM lineitem WHERE l_quantity > 25 GROUP BY l_orderkey""".stripMargin), Headline),
    QuerySpec("q_query_dialect", qQueryDialect, Some(
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem WHERE l_discount > 0.05 GROUP BY l_returnflag""".stripMargin), Headline),
    QuerySpec("q_dropna_fillna", qDropnaFillna, Some(
      """SELECT
        | (SELECT count(*) FROM lineitem WHERE l_discount >= 0.03) AS n_after_dropna,
        | (SELECT round(sum(CASE WHEN l_discount < 0.03 THEN 0.0
        |                        ELSE l_discount END), 4)
        |  FROM lineitem) AS sum_after_fillna""".stripMargin), Headline),
    QuerySpec("q_with_field", qWithField, Some(
      """SELECT l_returnflag,
        | cast(round(sum(cast(round(l_extendedprice * (1 - l_discount), 6)
        |   as decimal(30,6))), 2) as double) AS sum_revenue
        |FROM lineitem GROUP BY l_returnflag""".stripMargin), Headline),
    QuerySpec("q_eval_assign", qEvalAssign, Some(
      """SELECT l_linestatus,
        | cast(round(sum(cast(round(l_extendedprice * (1 - l_discount)
        |   * (1 + l_tax), 6) as decimal(30,6))), 2) as double) AS sum_charge
        |FROM lineitem GROUP BY l_linestatus""".stripMargin), Headline),
    QuerySpec("q_eval_default", qEvalDefault, Some(
      """SELECT l_linestatus,
        | cast(round(sum(cast(round(l_extendedprice * (1 + l_tax), 6)
        |   as decimal(30,6))), 2) as double) AS sum_charge,
        | cast(round(sum(cast(round(l_extendedprice * 2, 6)
        |   as decimal(30,6))), 2) as double) AS sum_price2
        |FROM lineitem GROUP BY l_linestatus""".stripMargin)),
    QuerySpec("q_count_nested_by", qCountNestedBy, Some(
      """SELECT l_orderkey AS orderkey,
        | count(*) FILTER (WHERE l_returnflag = 'R') AS n_r,
        | count(*) FILTER (WHERE l_returnflag = 'A') AS n_a,
        | count(*) FILTER (WHERE l_returnflag = 'N') AS n_n
        |FROM lineitem GROUP BY l_orderkey""".stripMargin), Headline),
    QuerySpec("q_min_max", qMinMax, Some(
      """SELECT
        | (SELECT round(min(o_totalprice), 2) FROM orders
        |   WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)) AS min_total,
        | (SELECT round(max(o_totalprice), 2) FROM orders
        |   WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)) AS max_total,
        | (SELECT round(min(l_quantity), 2) FROM lineitem) AS min_qty,
        | (SELECT round(max(l_quantity), 2) FROM lineitem) AS max_qty""".stripMargin), Headline),
    QuerySpec("q_describe", qDescribe, Some(
      """SELECT count(l_extendedprice) AS cnt,
        | round(avg(l_extendedprice) + 1e-9, 2) AS mean,
        | round(stddev_samp(l_extendedprice) + 1e-9, 2) AS std,
        | round(min(l_extendedprice), 2) AS mn,
        | round(quantile_cont(l_extendedprice, 0.25) + 1e-9, 2) AS q25,
        | round(quantile_cont(l_extendedprice, 0.5) + 1e-9, 2) AS q50,
        | round(quantile_cont(l_extendedprice, 0.75) + 1e-9, 2) AS q75,
        | round(max(l_extendedprice), 2) AS mx
        |FROM lineitem""".stripMargin), Headline),
    QuerySpec("q_sort_head", qSortHead, Some(
      """SELECT l_orderkey AS orderkey,
        | round(l_extendedprice, 2) AS latest_price
        |FROM (SELECT l_orderkey, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_orderkey
        |          ORDER BY l_shipdate DESC, l_linenumber, l_extendedprice,
        |            l_partkey, l_suppkey) AS rn
        |      FROM lineitem) WHERE rn = 1""".stripMargin), Headline),
    QuerySpec("q_map_rows_mean", qMapRowsMean, Some(
      """SELECT l_orderkey AS orderkey,
        | round(avg(l_quantity) + 1e-9, 4) AS mean_qty,
        | round(max(l_extendedprice) - min(l_extendedprice), 2) AS amplitude
        |FROM lineitem GROUP BY l_orderkey""".stripMargin), Headline),
    QuerySpec("q_sessionize", qSessionize, Some(
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        | count(*) AS n_events
        |FROM (SELECT user_id,
        |        CASE WHEN prev_ms IS NULL
        |               OR epoch_ms(ts) - prev_ms > 1800000 THEN 1 ELSE 0 END
        |          AS new_session
        |      FROM (SELECT user_id, ts, event_id,
        |              lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                ORDER BY ts, event_id) AS prev_ms
        |            FROM events))
        |GROUP BY user_id""".stripMargin), Headline),
    QuerySpec("q_map_rows_kernel", qMapRowsKernel, Some(
      """SELECT l_orderkey AS orderkey,
        | round(max(abs(l_extendedprice - prev)), 2) AS max_jump
        |FROM (SELECT l_orderkey, l_extendedprice,
        |        lag(l_extendedprice) OVER (PARTITION BY l_orderkey
        |          ORDER BY l_shipdate, l_linenumber, l_extendedprice,
        |                   l_partkey, l_suppkey) AS prev
        |      FROM lineitem)
        |GROUP BY l_orderkey""".stripMargin), Headline),
    QuerySpec("q_struct_of_list", qStructOfList, Some(
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin), Headline),
    QuerySpec("q_describe_all", qDescribeAll, Some {
      val q = "l_quantity"
      Seq(
        s"SELECT 'items.$q' AS \"column\", 'count' AS stat, " +
          s"round(CAST(count($q) AS DOUBLE) + 1e-9, 4) AS value FROM lineitem",
        s"SELECT 'items.$q', 'mean', round(avg($q) + 1e-9, 4) FROM lineitem",
        s"SELECT 'items.$q', 'std', round(stddev_samp($q) + 1e-9, 4) FROM lineitem",
        s"SELECT 'items.$q', 'min', round(CAST(min($q) AS DOUBLE) + 1e-9, 4) FROM lineitem",
        s"SELECT 'items.$q', '25%', round(quantile_cont($q, 0.25) + 1e-9, 4) FROM lineitem",
        s"SELECT 'items.$q', '50%', round(quantile_cont($q, 0.5) + 1e-9, 4) FROM lineitem",
        s"SELECT 'items.$q', '75%', round(quantile_cont($q, 0.75) + 1e-9, 4) FROM lineitem",
        s"SELECT 'items.$q', 'max', round(CAST(max($q) AS DOUBLE) + 1e-9, 4) FROM lineitem",
      ).mkString(" UNION ALL ")
    }, Headline),
    QuerySpec("q_explode_aligned", qExplodeAligned, Some(
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin), Headline),
    QuerySpec("q_element_index", qElementIndex, Some(
      """SELECT l_orderkey AS orderkey,
        | round(l_extendedprice, 2) AS min_qty_price
        |FROM (SELECT l_orderkey, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_orderkey
        |          ORDER BY l_quantity, l_extendedprice, l_partkey, l_suppkey,
        |                   l_linenumber) AS rn
        |      FROM lineitem) WHERE rn = 1""".stripMargin), Headline, Parity),
    QuerySpec("q_rollup", qRollup, Some(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n_orders, CAST(sum(n_items) AS BIGINT) AS n_items
        |FROM (SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |        (SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey)
        |          AS n_items
        |      FROM orders
        |      WHERE EXISTS (SELECT 1 FROM lineitem
        |                    WHERE l_orderkey = o_orderkey))
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin), Headline),
    QuerySpec("q_set_ops", qSetOps, Some(
      """SELECT l_partkey AS partkey FROM lineitem WHERE l_linestatus = 'O'
        |INTERSECT
        |SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F'
        |EXCEPT
        |SELECT l_partkey FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 45""".stripMargin), Headline),
  )
}
