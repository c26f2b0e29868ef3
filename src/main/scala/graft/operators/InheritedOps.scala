package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** The inherited-pandas frame verbs whose semantics are NOT the obvious
  * one-liner — tie policies, NaN padding, nest-cell behavior, numpy's
  * scaled rounding — shipped as library surface so a reference user gets
  * the pinned behavior instead of re-deriving it. Every function here is
  * replayed against the executed reference by the op-fuzz corpus
  * (families `nlargest`, `value_counts`, `where_mask`, `replace_vals`,
  * `round_base`, `shift_rows`, `fill_dir`; see COVERAGE.md §2.8).
  *
  * Row order: pandas breaks ties by ROW POSITION. Spark frames have no
  * implicit position, so these functions take the ordering column
  * explicitly (`tieCol`/`orderCol`) — the same carried-index contract as
  * the rest of graft (reference nestedframe/core.py keeps the pandas
  * index for this).
  *
  * Missing values: pandas has ONE missing marker (NaN doubles as NA in
  * float columns); Spark has TWO (SQL NULL, and the IEEE NaN value —
  * which sorts ABOVE every number and groups as its own key). These
  * verbs normalize NaN → NULL on the float/double columns they rank,
  * group, fill, or read for overwrite (via [[nanAsNull]]), so a literal
  * NaN behaves as missing exactly like pandas. Callers that genuinely
  * want IEEE NaN ordering must handle it before calling in.
  */
object InheritedOps {

  /** NaN → NULL on the named float/double columns (non-float columns
    * and names absent from the frame pass through untouched). One
    * `nanvl` projection — free under codegen. */
  private def nanAsNull(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val floaty = df.schema.fields.collect {
      case f if cols.contains(f.name) &&
        (f.dataType == DoubleType || f.dataType == FloatType) => f.name
    }.toSet
    if (floaty.isEmpty) df
    else df.select(df.columns.map { c =>
      if (floaty.contains(c)) nanvl(col(c), lit(null)).as(c) else col(c)
    }.toSeq: _*)
  }

  /** Fail loudly (like pandas update's ValueError on a non-unique other
    * index) if `key` is non-unique in `df`: a duplicate key on the
    * `other` side of update would silently MULTIPLY rows through the
    * join. Used by [[updateFrom]] ONLY — pandas combine_first ACCEPTS
    * duplicate other-keys and multiplies (probe 2026-08-16, r12 review).
    * One window over the join key — the exchange it introduces is the
    * same hash partitioning the join needs, so AQE reuses it. */
  private def requireUniqueKey(df: DataFrame, key: String,
                               verb: String): DataFrame = {
    // The window count is materialized in a projection (windows are not
    // legal in WHERE) and the raise_error lives in the FILTER that reads
    // it — a filter can't be pruned away, so the guard always executes.
    df.withColumn("__kc",
        count(lit(1)).over(Window.partitionBy(col(key))))
      .where(when(col("__kc") > 1, raise_error(concat(
          lit(s"$verb: duplicate key in other frame: $key="),
          col(key).cast("string")))).otherwise(lit(true)))
      .drop("__kc")
  }

  /** pandas `nlargest`/`nsmallest(n, column, keep=)` — SINGLE sort
    * column, n < row count (the contract the reference actually honors:
    * beyond it pandas falls to an unstable quicksort, and its
    * multi-column path can return MORE than n rows on a NaN border —
    * probed 2026-08-16, PARITY.md).
    *
    * Missing values rank below every present value but still fill
    * remaining slots in `tieCol` order (pandas pads from `nan_index`).
    * keep='first' breaks ties by `tieCol` asc, 'last' by desc, 'all'
    * extends the boundary tie group (computed scale-safely: top-n via
    * sort+limit — Spark's TakeOrderedAndProject — then a boundary-value
    * semi-filter, no global window). */
  def nLargest(df: DataFrame, n: Int, valueCol: String, tieCol: String,
               keep: String = "first", smallest: Boolean = false): DataFrame = {
    val valOrd = if (smallest) col(valueCol).asc_nulls_last
                 else col(valueCol).desc_nulls_last
    require(Seq("first", "last", "all").contains(keep),
      s"keep must be first|last|all, got '$keep'")
    if (n <= 0) return df.limit(0)
    val df0 = nanAsNull(df, Seq(valueCol))
    keep match {
      case "all" =>
        // boundary value of the strict top-n (ties broken arbitrarily —
        // only the VALUE is used), then keep everything not strictly
        // worse. NULLs join the result only when the top-n itself ran
        // into the NULL tail.
        val top = df0.orderBy(valOrd).limit(n)
        val b = top.agg(
          (if (smallest) max(col(valueCol)) else min(col(valueCol)))
            .as("__b"),
          count(lit(1)).as("__cnt"),
          count(col(valueCol)).as("__nonnull")).head()
        val hasNullBoundary = b.getLong(2) < b.getLong(1)
        val bound = b.get(0)
        val cmp =
          if (bound == null) lit(true) // top-n all-null: keep null rows
          else if (smallest) col(valueCol) <= lit(bound)
          else col(valueCol) >= lit(bound)
        val keepNulls = bound == null || hasNullBoundary
        df0.where(if (keepNulls) cmp || col(valueCol).isNull else cmp)
          .orderBy(valOrd, col(tieCol).asc)
      case k =>
        val tie = if (k == "first") col(tieCol).asc else col(tieCol).desc
        df0.orderBy(valOrd, tie).limit(n)
    }
  }

  /** pandas `value_counts(subset=, normalize=, dropna=)` with the
    * CANONICAL (count desc, keys asc, NULL keys last) output order —
    * pandas' own tie order under `sort_values` is not a contract (it
    * quicksorts), so both graft and the fuzz oracle pin this one. The
    * count/proportion column is named like pandas ('count' /
    * 'proportion'). One keyed shuffle + a broadcast of the scalar total
    * for normalize — no global window. */
  def valueCounts(df: DataFrame, subset: Seq[String],
                  normalize: Boolean = false,
                  dropna: Boolean = true): DataFrame = {
    val df0 = nanAsNull(df, subset)
    val src = if (dropna)
      subset.foldLeft(df0)((d, cn) => d.where(col(cn).isNotNull))
    else df0
    val counted = src.groupBy(subset.map(col): _*)
      .agg(count(lit(1)).as("count"))
    val valcol = if (normalize) "proportion" else "count"
    val out =
      if (normalize)
        counted.crossJoin(
            broadcast(counted.agg(sum(col("count")).as("__t"))))
          .withColumn("proportion", col("count") / col("__t"))
          .drop("count", "__t")
      else counted
    out.orderBy(col(valcol).desc +: subset.map(col(_).asc_nulls_last): _*)
  }

  /** pandas frame-level `where(cond)`: rows where `cond` is not TRUE
    * keep their shape but every column — nest cells included — becomes
    * missing. `cond` is 2-valued like pandas (a NULL comparison acts
    * False); `keepCols` (e.g. the key/index columns) pass through. */
  def whereCond(df: DataFrame, cond: Column,
                keepCols: Set[String] = Set.empty): DataFrame =
    df.select(df.columns.map { c =>
      if (keepCols.contains(c)) col(c)
      else when(cond, col(c)).as(c)
    }.toSeq: _*)

  /** pandas `mask(cond)` — the complement: rows where `cond` IS true
    * become missing (NULL cond keeps the value, matching pandas' 2-valued
    * condition). */
  def maskCond(df: DataFrame, cond: Column,
               keepCols: Set[String] = Set.empty): DataFrame =
    df.select(df.columns.map { c =>
      if (keepCols.contains(c)) col(c)
      else when(cond, lit(null)).otherwise(col(c)).as(c)
    }.toSeq: _*)

  /** pandas `replace({column: mapping})`: SIMULTANEOUS mapping over the
    * original values (no re-replacement chains), NULLs untouched. */
  def replaceValues(df: DataFrame, column: String,
                    mapping: Seq[(Any, Any)]): DataFrame = {
    val repl = mapping.foldLeft(col(column)) { case (acc, (from, to)) =>
      when(col(column) === lit(from), lit(to)).otherwise(acc)
    }
    df.withColumn(column, repl)
  }

  /** pandas/numpy `round(decimals)` for one DOUBLE column: np.around is
    * rint(x·10^d)/10^d — half-even on the SCALED double, which differs
    * from `bround(x, d)` exactly at representation boundaries
    * (np.round(1.275, 2) = 1.27; bround gives 1.28). `bround(y, 0)` ≡
    * rint, so the scaled form is numpy-bit-exact. */
  def roundLikeNumpy(c: Column, decimals: Int): Column = {
    val p = math.pow(10.0, decimals)
    bround(c * lit(p), 0) / lit(p)
  }

  /** `df[df.duplicated(subset, keep=)]` — the rows MARKED duplicate
    * (complement of drop_duplicates): keep='first' marks all but the
    * first occurrence per subset-key group (by `orderCol`), 'last' all
    * but the last, keep=False marks every member of any group of size
    * > 1. NULL subset keys group together, like pandas NaN==NaN here.
    * One keyed window. */
  def duplicateRows(df: DataFrame, subset: Seq[String], keep: String,
                    orderCol: String): DataFrame = {
    val part = Window.partitionBy(subset.map(col): _*)
    keep match {
      case "first" | "last" =>
        val w = part.orderBy(
          if (keep == "first") col(orderCol).asc else col(orderCol).desc)
        df.withColumn("__rn", row_number().over(w))
          .where(col("__rn") > 1).drop("__rn")
      case "false" =>
        df.withColumn("__cnt", count(lit(1)).over(part))
          .where(col("__cnt") > 1).drop("__cnt")
      case other => throw new IllegalArgumentException(
        s"keep must be first|last|false, got '$other'")
    }
  }

  /** pandas `combine_first(other)`: outer-align on `key`, take this
    * frame's value where present else `other`'s — per CELL for nest
    * columns (a missing cell fills from the other frame's cell whole).
    * Columns only in `other` are appended; rows only in `other`
    * contribute their values with this frame's extra columns missing.
    * The shard-merge verb: one outer keyed join, no window. */
  def combineFirst(df: DataFrame, other: DataFrame,
                   key: String): DataFrame = {
    val shared = other.columns.toSet.intersect(df.columns.toSet) - key
    val extra = other.columns.filterNot(c => c == key ||
      df.columns.contains(c))
    // NaN counts as missing on BOTH sides (a NaN cell in `df` fills from
    // `other`, like pandas). Duplicate keys in `other` are ACCEPTED and
    // multiply rows through the outer join — pandas combine_first does
    // exactly that (probe 2026-08-16, r12 review; only `update` raises).
    val df1 = nanAsNull(df, shared.toSeq)
    val o = nanAsNull(other, shared.toSeq).select(col(key) +:
      other.columns.filterNot(_ == key)
        .map(cn => col(cn).as("__o_" + cn)).toSeq: _*)
    df1.join(o, Seq(key), "outer")
      .select(col(key) +:
        (df.columns.filterNot(_ == key).map { cn =>
          if (shared.contains(cn))
            coalesce(col(cn), col("__o_" + cn)).as(cn)
          else col(cn)
        } ++ extra.map(cn => col("__o_" + cn).as(cn))).toSeq: _*)
  }

  /** pandas `update(other)`: overwrite this frame's values with
    * `other`'s NON-missing values on the key intersection (missing in
    * `other` never erases a present value; rows/columns only in `other`
    * are ignored). One left keyed join. */
  def updateFrom(df: DataFrame, other: DataFrame, key: String): DataFrame = {
    val shared = other.columns.toSet.intersect(df.columns.toSet) - key
    // a NaN in `other` is MISSING — it must not overwrite (pandas
    // update ignores other's NaNs); duplicate keys in `other` raise,
    // like pandas' ValueError on a non-unique other index.
    val o = requireUniqueKey(nanAsNull(other, shared.toSeq), key,
        "updateFrom").select(col(key) +:
      shared.toSeq.map(cn => col(cn).as("__o_" + cn)): _*)
    df.join(o, Seq(key), "left")
      .select(col(key) +: df.columns.filterNot(_ == key).map { cn =>
        if (shared.contains(cn))
          when(col("__o_" + cn).isNotNull, col("__o_" + cn))
            .otherwise(col(cn)).as(cn)
        else col(cn)
      }.toSeq: _*)
  }

  /** pandas `Series.idxmax`/`idxmin`: the carried index of the first
    * occurrence (smallest `idxCol`) of the extreme value, missing
    * skipped (probed 2026-08-16). One aggregate — the max-struct trick
    * (value, then −idx) resolves the tie without a second pass. */
  def idxExtreme(df: DataFrame, valueCol: String, idxCol: String,
                 smallest: Boolean = false): DataFrame = {
    val df0 = nanAsNull(df, Seq(valueCol))
    val v0 = col(valueCol)
    val v = if (smallest) v0 * lit(-1) else v0
    df0.where(v0.isNotNull)
      .agg(max(struct(v.as("v"), (col(idxCol) * -1).as("ni"))).as("m"))
      .select((col("m.ni") * -1).as("idx"))
  }

  /** pandas `Series.mode()`: every value with the maximal count, sorted
    * ascending; missing excluded. Two keyed aggregates, no window. */
  def modeValues(df: DataFrame, column: String): DataFrame = {
    val df0 = nanAsNull(df, Seq(column))
    val counted = df0.where(col(column).isNotNull)
      .groupBy(col(column)).agg(count(lit(1)).as("__c"))
    counted.join(broadcast(counted.agg(max(col("__c")).as("__m"))),
        col("__c") === col("__m"))
      .select(col(column)).orderBy(col(column).asc)
  }

  /** pandas `Series.quantile(q)` (linear interpolation, missing
    * skipped) — Spark's exact `percentile` uses the same continuous
    * definition (probed: q=0.3 over {1,2,3} with NaNs → 1.9 on both). */
  def quantileLinear(df: DataFrame, column: String, q: Double): DataFrame = {
    val df0 = nanAsNull(df, Seq(column))
    df0.agg(percentile(col(column), lit(q)).as("q"))
  }

  /** pandas `Series.skew()` / `kurt()` / `sem()` — the BIAS-CORRECTED
    * sample statistics, not Spark's population moments: pandas skew is
    * G1 = g1·√(n(n−1))/(n−2) over Spark's `skewness` (= g1), pandas
    * kurt is the adjusted Fisher G2 = ((n+1)·g2 + 6)(n−1)/((n−2)(n−3))
    * over Spark's excess `kurtosis` (= g2), sem = s/√n. Fewer than
    * 3 (skew) / 4 (kurt) / 2 (sem) present values → missing, like
    * pandas. Verified against pandas on 300 random draws (≤1e−9).
    * One aggregate, map-side co-moment partials. */
  def momentStat(df: DataFrame, column: String, fn: String): DataFrame = {
    val df0 = nanAsNull(df, Seq(column))
    val v = col(column).cast("double")
    // double count: n·(n−1) in LongType would overflow past ~3e9 rows
    // (the 100 TB scale this targets); double is exact to 2^53 and the
    // correction factors are float math anyway (r12 review)
    val n = count(v).cast("double")
    // pandas nanskew/nankurt return 0.0 on a zero-variance column
    // (their m2 == 0 branch) where Spark's skewness/kurtosis read NULL
    // — coalesce restores the pandas contract (r12 review; probed:
    // Series([5,5,5,5]).skew() == 0.0)
    val zeroVar = when(var_samp(v) === 0.0, lit(0.0))
    val agg: Column = fn match {
      case "skew" => when(n >= 3, coalesce(
        skewness(v) * sqrt(n * (n - 1)) / (n - 2), zeroVar))
      case "kurt" => when(n >= 4, coalesce(
        ((n + 1) * kurtosis(v) + 6) * (n - 1) / ((n - 2) * (n - 3)),
        zeroVar))
      case "sem" => when(n >= 2, stddev_samp(v) / sqrt(n))
      case other => throw new IllegalArgumentException(
        s"fn must be skew|kurt|sem, got '$other'")
    }
    df0.agg(agg.as("stat"))
  }

  /** pandas `Series.nunique(dropna=)`. */
  def nUnique(df: DataFrame, column: String,
              dropna: Boolean = true): DataFrame = {
    val df0 = nanAsNull(df, Seq(column))
    if (dropna) df0.agg(countDistinct(col(column)).as("n"))
    // coalesce: max over an EMPTY frame is NULL, and 0 + NULL would
    // turn pandas' 0 into NULL (r12 review)
    else df0.agg((countDistinct(col(column)) +
      coalesce(max(when(col(column).isNull, 1).otherwise(0)),
        lit(0))).as("n"))
  }

  /** pandas `groupby(key)[value].transform(fn)`: the per-group statistic
    * broadcast back to every row, appended as `transformed`. Probed
    * 2026-08-16: a missing group KEY yields a missing result (groupby
    * dropna default) — even for `size`; `count` counts non-missing
    * values, `size` counts rows; `sum` is min_count=0 (an all-missing
    * group reads 0.0, not missing). One keyed window — the 100 TB
    * lag-features shape, no global ordering. */
  def groupTransform(df: DataFrame, keyCol: String, valueCol: String,
                     fn: String): DataFrame = {
    val df0 = nanAsNull(df, Seq(keyCol, valueCol))
    val w = Window.partitionBy(col(keyCol))
    val v = col(valueCol)
    val agg: Column = fn match {
      case "mean"  => avg(v).over(w)
      case "sum"   => coalesce(sum(v).over(w), lit(0.0))
      case "max"   => max(v).over(w)
      case "min"   => min(v).over(w)
      case "count" => count(v).over(w).cast("long")
      case "size"  => count(lit(1)).over(w).cast("long")
      case other => throw new IllegalArgumentException(
        s"fn must be mean|sum|max|min|count|size, got '$other'")
    }
    df0.withColumn("transformed", when(col(keyCol).isNotNull, agg))
  }

  /** pandas `Series.rank(method=, ascending=, na_option=, pct=)` over
    * one column, appended as `rank` (double, like pandas). Probed
    * 2026-08-16: ties — average = (min+max)/2 of the tie block's
    * positions, `first` breaks by row position (the carried index);
    * na_option `keep` leaves missing ranks missing, `top`/`bottom`
    * rank the missing group FIRST/LAST as one tie block; pct divides
    * by the count of RANKED rows (non-missing under keep, all rows
    * under top/bottom) except `dense`, which divides by the max dense
    * rank. NaN ≡ missing (normalized on entry). Global ranking is a
    * single-partition window — pass `partitionBy` for the per-key
    * scale path, same contract as [[shiftRows]]. */
  def rankRows(df: DataFrame, valueCol: String, method: String = "average",
               ascending: Boolean = true, naOption: String = "keep",
               pct: Boolean = false, tieCol: String = "k",
               partitionBy: Seq[String] = Nil): DataFrame = {
    require(Seq("average", "min", "max", "first", "dense").contains(method),
      s"method must be average|min|max|first|dense, got '$method'")
    require(Seq("keep", "top", "bottom").contains(naOption),
      s"na_option must be keep|top|bottom, got '$naOption'")
    val df0 = nanAsNull(df, Seq(valueCol))
    val v = col(valueCol)
    val ord =
      (ascending, naOption) match {
        case (true, "top")  => v.asc_nulls_first
        case (true, _)      => v.asc_nulls_last
        case (false, "top") => v.desc_nulls_first
        case (false, _)     => v.desc_nulls_last
      }
    val base = if (partitionBy.nonEmpty)
      Window.partitionBy(partitionBy.map(col): _*)
    else Window.partitionBy()
    val w = base.orderBy(ord)
    val wTie = base.orderBy(ord, col(tieCol).asc)
    val grp = Window.partitionBy((partitionBy.map(col) :+ v): _*)
    val raw: Column = method match {
      case "first"   => row_number().over(wTie).cast("double")
      case "min"     => rank().over(w).cast("double")
      case "max"     => (rank().over(w) + count(lit(1)).over(grp) - 1)
        .cast("double")
      case "average" => rank().over(w) + (count(lit(1)).over(grp) - 1) / 2.0
      case "dense"   => dense_rank().over(w).cast("double")
    }
    val masked =
      if (naOption == "keep") when(v.isNotNull, raw) else raw
    val withRank = df0.withColumn("rank", masked)
    if (!pct) withRank
    else {
      val denom: Column = method match {
        case "dense" => max(col("rank")).over(base)
        case _ if naOption == "keep" => count(v).over(base).cast("double")
        case _ => count(lit(1)).over(base).cast("double")
      }
      withRank.withColumn("rank", col("rank") / denom)
    }
  }

  /** pandas `cumsum`/`cummax`/`cummin`/`cumprod` on one column along
    * `orderCol`: a missing position STAYS missing, the running
    * aggregate skips it (probed 2026-08-16). One prefix window;
    * cumprod multiplies in row order (same accumulation order as
    * pandas, so float results agree bit-for-bit on shared input). */
  def cumulative(df: DataFrame, column: String, fn: String,
                 orderCol: String,
                 partitionBy: Seq[String] = Nil): DataFrame = {
    val df0 = nanAsNull(df, Seq(column))
    val w = (if (partitionBy.nonEmpty)
               Window.partitionBy(partitionBy.map(col): _*)
             else Window.partitionBy())
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val agg = fn match {
      case "cumsum"  => sum(col(column)).over(w)
      case "cummax"  => max(col(column)).over(w)
      case "cummin"  => min(col(column)).over(w)
      case "cumprod" => product(col(column)).over(w)
      case other => throw new IllegalArgumentException(
        s"fn must be cumsum|cummax|cummin|cumprod, got '$other'")
    }
    df0.withColumn(column,
      when(col(column).isNotNull, agg))
  }

  /** pandas `diff(n)` on one column: value minus the value |n| positions
    * before (after, for negative n) along `orderCol`; missing on either
    * side propagates. */
  def diffRows(df: DataFrame, column: String, n: Int, orderCol: String,
               partitionBy: Seq[String] = Nil): DataFrame = {
    val df0 = nanAsNull(df, Seq(column))
    val w = (if (partitionBy.nonEmpty)
               Window.partitionBy(partitionBy.map(col): _*)
             else Window.partitionBy())
      .orderBy(col(orderCol))
    val other = if (n >= 0) lag(col(column), n).over(w)
                else lead(col(column), -n).over(w)
    df0.withColumn(column, col(column) - other)
  }

  /** pandas `melt(id_vars=, value_vars=)`: unpivot the value columns
    * into (variable, value) rows. pandas emits VARIABLE-MAJOR order
    * (all rows of value_vars[0], then value_vars[1], …; original row
    * order within each block) — on a Spark frame that order is data,
    * not an engine guarantee: sort by (variable position, carried
    * index) to reproduce it. Nest columns pass through whole — as id
    * vars (the cell repeats per variable) or as the single value var
    * (the cell becomes the value), both reference-probed 2026-08-16.
    * Value type: pandas melts into one object column; graft unifies
    * mixed numeric value vars to double and anything else to string —
    * one per-row generator expansion, no shuffle. */
  def meltFrame(df: DataFrame, idVars: Seq[String],
                valueVars: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{DataType, DoubleType, NumericType, StringType}
    require(valueVars.nonEmpty, "melt needs at least one value column")
    val types = valueVars.map(v => df.schema(v).dataType)
    val castTo: Option[DataType] =
      if (types.distinct.size == 1) None
      else if (types.forall(_.isInstanceOf[NumericType])) Some(DoubleType)
      else Some(StringType)
    val pairs = valueVars.map { v =>
      val c = castTo.map(t => col(v).cast(t)).getOrElse(col(v))
      struct(lit(v).as("variable"), c.as("value"))
    }
    df.select((idVars.map(col) :+ explode(array(pairs: _*)).as("__m")): _*)
      .select(idVars.map(col) ++
        Seq(col("__m.variable"), col("__m.value")): _*)
  }

  /** pandas `pivot_table(index=, columns=, values=, aggfunc=)` with the
    * pandas defaults pinned: NULL index/column KEYS drop (groupby
    * dropna), all-NULL result COLUMNS drop, then all-NULL result ROWS
    * drop (`dropna=True`), column keys sorted ascending (Spark's pivot
    * sorts too; names are the keys' string forms, matching pandas
    * str(key) for int/string keys). One grouped pivot shuffle; the
    * column-drop inspection is a single 1-row aggregate over the
    * already-small wide frame (bounded by key cardinality, like
    * Spark's own pivot value collection). */
  def pivotTable(df: DataFrame, index: String, columns: String,
                 values: String, aggfunc: String = "mean"): DataFrame = {
    def aggOf(c: Column): Column = aggfunc match {
      case "mean"  => avg(c)
      // pandas sum is min_count=0: an all-NaN PRESENT group sums to 0.0
      // (absent index×column combos still read null — pivot never
      // computes them, so the coalesce can't touch them)
      case "sum"   => coalesce(sum(c), lit(0.0))
      case "min"   => min(c)
      case "max"   => max(c)
      case "count" => count(c)
      case other => throw new IllegalArgumentException(
        s"aggfunc must be mean|sum|min|max|count, got '$other'")
    }
    val base = nanAsNull(df, Seq(values))
      .where(col(index).isNotNull && col(columns).isNotNull)
    // read twice (the all-null-column counts probe below AND the final
    // projection); |index domain| rows × the bounded pivot width
    val wide = Materialize(base.groupBy(col(index)).pivot(columns)
      .agg(aggOf(col(values))))
    val valCols = wide.columns.filterNot(_ == index)
    if (valCols.isEmpty) return wide
    // pivot names columns after DATA values (e.g. "-3") — backtick every
    // reference so they parse as names, not expressions
    def pc(n: String): Column = col(s"`$n`")
    // pandas count never yields NaN (absent combos become 0 only via
    // fill_value; absent stays NaN) — Spark pivot leaves absent combos
    // null on every aggfunc, which matches
    val counts = wide.agg(count(pc(valCols.head)).as(valCols.head),
      valCols.tail.map(c => count(pc(c)).as(c)): _*).head()
    val keep = valCols.filter(c => counts.getAs[Long](c) > 0L)
    val kept = wide.select((index +: keep).map(pc): _*)
    if (keep.isEmpty) kept.limit(0)
    else kept.where(keep.map(pc(_).isNotNull).reduce(_ || _))
  }

  /** pandas `shift(n)`: every column lags (n>0) or leads (n<0) by |n|
    * positions of `orderCol` — nest cells move whole, vacated rows are
    * all-missing. Pass `partitionBy` for the scale path (per-key lag
    * features); the unpartitioned form is a single-partition sort, fine
    * only for small frames. */
  def shiftRows(df: DataFrame, n: Int, orderCol: String,
                partitionBy: Seq[String] = Nil): DataFrame = {
    val w = (if (partitionBy.nonEmpty)
               Window.partitionBy(partitionBy.map(col): _*)
             else Window.partitionBy())
      .orderBy(col(orderCol))
    // pandas shift preserves column order — select in df.columns order,
    // mapping each column to its shifted or passthrough form in place
    df.select(df.columns.map { c =>
      if (c == orderCol || partitionBy.contains(c)) col(c)
      else (if (n >= 0) lag(col(c), n) else lead(col(c), -n)).over(w).as(c)
    }.toSeq: _*)
  }

  /** pandas `ffill`/`bfill`: missing values — missing nest CELLS
    * included — fill from the nearest non-missing neighbor along
    * `orderCol`. Same `partitionBy` contract as [[shiftRows]]. bfill
    * runs `last` over a DESC-ordered prefix frame rather than `first`
    * over (currentRow, unboundedFollowing) — Spark evaluates the
    * latter O(n²) per partition (see [[interpolateLinear]], including
    * the duplicate-free `orderCol` contract the DESC sweep relies
    * on). */
  def fillDirectional(df: DataFrame, forward: Boolean, orderCol: String,
                      partitionBy: Seq[String] = Nil): DataFrame = {
    val part = if (partitionBy.nonEmpty)
      Window.partitionBy(partitionBy.map(col): _*)
    else Window.partitionBy()
    val w = part
      .orderBy(if (forward) col(orderCol) else col(orderCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NaN is missing (gets filled, never propagates as a fill value);
    // pandas ffill/bfill preserve column order — map in place
    val fillCols = df.columns.filterNot(c =>
      c == orderCol || partitionBy.contains(c))
    val df0 = nanAsNull(df, fillCols.toSeq)
    df0.select(df0.columns.map { c =>
      if (c == orderCol || partitionBy.contains(c)) col(c)
      else last(col(c), ignoreNulls = true).over(w).as(c)
    }.toSeq: _*)
  }

  /** pandas `rolling(window, min_periods=).fn()` / `expanding(mp).fn()`
    * over one column along `orderCol`, appended as `rolled` (double —
    * pandas rolling always returns float64). Probed 2026-08-16
    * (pandas 2.2.2):
    *  - the aggregate SKIPS missing values inside the window
    *    (mean of [1, NaN] with min_periods=1 is 1.0);
    *  - the min_periods gate counts NON-MISSING values in the window
    *    for every kernel EXCEPT `count`, whose gate counts ROWS
    *    (rolling(3).count() over [1, NaN, 3] reads 2.0 — the row count
    *    met the default min_periods=window, the non-NA count did not);
    *  - min_periods defaults: window (rolling), 1 (expanding);
    *  - center=True shifts the frame to rows [i − w/2, i + (w−1)/2]
    *    (integer division — probed 2026-08-16 on even and odd w);
    *  - median/quantile(q) interpolate LINEARLY over the non-missing
    *    window values (np.percentile linear ≡ Spark's exact
    *    `percentile`).
    * std/var are sample (ddof=1) ≡ stddev_samp/var_samp. One bounded
    * rows-window — map-side, no shuffle beyond the `partitionBy` hash;
    * the unpartitioned form is a single-partition sort, fine only for
    * small frames (same contract as [[shiftRows]]). percentile over a
    * sliding frame re-aggregates per row (O(n·w) like pandas' own
    * rolling quantile) — bounded by the explicit window size. */
  def rollingAgg(df: DataFrame, column: String, fn: String, window: Int,
                 minPeriods: Option[Int] = None, orderCol: String = "k",
                 partitionBy: Seq[String] = Nil,
                 expanding: Boolean = false, center: Boolean = false,
                 q: Double = 0.5): DataFrame = {
    require(window > 0 || expanding, s"window must be positive, got $window")
    require(!(center && expanding), "center applies to rolling only")
    val mp = minPeriods.getOrElse(if (expanding) 1 else window)
    val df0 = nanAsNull(df, Seq(column))
    val w0 = (if (partitionBy.nonEmpty)
                Window.partitionBy(partitionBy.map(col): _*)
              else Window.partitionBy())
      .orderBy(col(orderCol))
    val w =
      if (expanding) w0.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      else if (center) w0.rowsBetween(-(window / 2).toLong,
        ((window - 1) / 2).toLong)
      else w0.rowsBetween(-(window - 1).toLong, Window.currentRow)
    val v = col(column)
    val agg: Column = fn match {
      case "mean"  => avg(v).over(w)
      case "sum"   => sum(v).over(w).cast("double")
      case "min"   => min(v).over(w).cast("double")
      case "max"   => max(v).over(w).cast("double")
      case "std"   => stddev_samp(v).over(w)
      case "var"   => var_samp(v).over(w)
      case "count" => count(v).over(w).cast("double")
      case "median" => percentile(v.cast("double"), lit(0.5)).over(w)
      case "quantile" =>
        require(q >= 0 && q <= 1, s"quantile must be in [0, 1], got $q")
        percentile(v.cast("double"), lit(q)).over(w)
      // r13 breadth: the [[momentStat]] bias corrections at the window
      // level. pandas' rolling kernels floor the gate internally at
      // 3 (skew) / 4 (kurt) present values whatever min_periods says,
      // and their zero-variance branch diverges from Series.skew/kurt:
      // rolling skew reads 0.0 but rolling KURT reads -3.0 (the
      // same-value branch of roll_kurt; Series.kurt reads 0.0 —
      // probed 2026-08-17). Spark's central-moment aggregates read
      // NULL there, so the coalesce restores each convention.
      case "skew" =>
        val nW = count(v).over(w).cast("double")
        when(nW >= 3, coalesce(
          skewness(v).over(w) * sqrt(nW * (nW - 1)) / (nW - 2),
          when(var_samp(v).over(w) === 0.0, lit(0.0))))
      case "kurt" =>
        val nW = count(v).over(w).cast("double")
        when(nW >= 4, coalesce(
          ((nW + 1) * kurtosis(v).over(w) + 6) * (nW - 1)
            / ((nW - 2) * (nW - 3)),
          when(var_samp(v).over(w) === 0.0, lit(-3.0))))
      case other => throw new IllegalArgumentException(
        s"fn must be mean|sum|min|max|std|var|count|median|quantile|" +
          s"skew|kurt, got '$other'")
    }
    val gate =
      if (fn == "count") count(lit(1)).over(w) >= mp
      else count(v).over(w) >= mp
    df0.withColumn("rolled", when(gate, agg))
  }

  /** pandas time-based `rolling("2s", closed=)` on a datetime column,
    * appended as `rolled`: the [[TimeWindow]] kernel (its scaladoc pins
    * `closed`, the position-truncated window end and the min_periods
    * gates; min_periods defaults to 1 for offset windows). The window
    * end is the current row POSITION, which a Spark RANGE frame with
    * upper bound 0 gets wrong (it includes all timestamp peers;
    * fuzz-caught 2026-08-16), so this is NOT a window aggregate: it runs
    * as one [[sortedGroupPass]] ordered by (ts, `tieCol`), `tieCol`
    * pinning the positional order of timestamp peers (pandas row
    * position). */
  def rollingTimeAgg(df: DataFrame, column: String, fn: String,
                     windowMicros: Long, tsCol: String,
                     tieCol: String,
                     minPeriods: Int = 1,
                     partitionBy: Seq[String] = Nil,
                     closed: String = "right",
                     q: Double = 0.5): DataFrame = {
    val window = TimeWindow(windowMicros, fn, minPeriods, closed, q)
    val df0 = nanAsNull(df, Seq(column))
      .withColumn("__t", unix_micros(col(tsCol).cast("timestamp")))
    val vIdx = df0.schema.fieldIndex(column)
    val tIdx = df0.schema.fieldIndex("__t")
    sortedGroupPass(df0, partitionBy, Seq("__t", tieCol), "rolled") { () =>
      val s = TimeWindow.State()
      row => window.push(s, row.getLong(tIdx), cell(row, vIdx))
    }.drop("__t")
  }

  /** pandas `interpolate()` (method='linear', the default forward
    * limit_direction) on one column along `orderCol`: interior gaps fill
    * linearly between the nearest present neighbors BY POSITION (pandas
    * 'linear' treats rows as equally spaced, the index is ignored),
    * leading missing stays missing, trailing missing carries the last
    * present value (probed 2026-08-16: [NaN,1,NaN,NaN,4,NaN] →
    * [NaN,1,2,3,4,4]). The slope term mirrors np.interp's evaluation
    * order — prev + (next-prev) * gap-fraction.
    *
    * The "next present value" is computed as a running `last` over a
    * DESC-ordered prefix window, NOT `first` over
    * (currentRow, unboundedFollowing): Spark's
    * UnboundedFollowingWindowFunctionFrame re-evaluates the aggregate
    * from scratch per row — O(n²) per partition, measured as a hard
    * hang on ~10⁶-row status groups at the 10× corpus (r12). The
    * reversed prefix frame is the same answer via the O(n) running
    * accumulation; it costs a second in-partition sort, no extra
    * shuffle.
    *
    * CONTRACT: `orderCol` must be duplicate-free within each partition
    * group (the carried-index contract, like pandas' index here). The
    * ASC and DESC sweeps order tied rows independently, so a duplicated
    * position could resolve "next present" to a row the ASC order
    * places before the current one. Same contract as
    * [[fillDirectional]] bfill and the as-of reverse sweeps. */
  def interpolateLinear(df: DataFrame, column: String, orderCol: String,
                        partitionBy: Seq[String] = Nil,
                        byValues: Boolean = false): DataFrame = {
    val df0 = nanAsNull(df, Seq(column))
    val part = if (partitionBy.nonEmpty)
      Window.partitionBy(partitionBy.map(col): _*)
    else Window.partitionBy()
    val base = part.orderBy(col(orderCol))
    val wPrev = base.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val wNextRev = part.orderBy(col(orderCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(column).cast("double")
    // byValues = pandas interpolate(method='index'/'values'): the gap
    // position is the ORDER VALUE (numeric index / timestamp) rather
    // than the row position — the time-series interpolation (probed
    // 2026-08-17: leading/interior/trailing rules are unchanged, only
    // the abscissa differs; 'values' is an alias of 'index')
    val pos = if (byValues) col(orderCol).cast("double")
              else row_number().over(base).cast("double")
    val out = df0
      .withColumn("__pos", pos)
      .withColumn("__pv", last(v, ignoreNulls = true).over(wPrev))
      .withColumn("__pi", last(when(v.isNotNull, col("__pos")),
        ignoreNulls = true).over(wPrev))
      .withColumn("__nv", last(v, ignoreNulls = true).over(wNextRev))
      .withColumn("__ni", last(when(v.isNotNull, col("__pos")),
        ignoreNulls = true).over(wNextRev))
    out.withColumn(column,
        when(v.isNotNull, v)
          .when(col("__pv").isNull, lit(null))
          .when(col("__nv").isNull, col("__pv"))
          .otherwise(col("__pv") + (col("__nv") - col("__pv")) *
            ((col("__pos") - col("__pi")) / (col("__ni") - col("__pi")))))
      .drop("__pos", "__pv", "__pi", "__nv", "__ni")
  }

  /** pandas `clip(lower, upper)` on one column: values cap at the
    * bounds, missing passes through UNCHANGED. Spark's greatest/least
    * SKIP nulls (greatest(NULL, lo) = lo — which would clip a missing
    * value to the bound), so the missing guard is explicit. Bound types
    * follow Spark coercion ≡ pandas: an int column with int bounds
    * stays int, a float bound upcasts (probed 2026-08-16). */
  def clipValues(c: Column, lower: Option[Column],
                 upper: Option[Column]): Column = {
    require(lower.nonEmpty || upper.nonEmpty,
      "clip needs at least one of lower/upper")
    val lowered = lower.map(lo => greatest(c, lo)).getOrElse(c)
    val clipped = upper.map(hi => least(lowered, hi)).getOrElse(lowered)
    when(c.isNull || isnan(c.cast("double")), c).otherwise(clipped)
  }

  /** pandas `pct_change(n)` on one column along `orderCol`:
    * value / value-n-rows-before − 1. `fillMethod="pad"` (the pandas
    * 2.2.2 default, deprecated but active) forward-fills non-leading
    * missing values BEFORE the ratio — both numerator and denominator
    * read padded values; `fillMethod=None` leaves missing in place
    * (a missing side propagates). Division by a zero denominator
    * follows pandas' IEEE sign (±inf); 0/0 — pandas NaN, which in
    * pandas' one-marker world IS missing — reads SQL NULL here, the
    * single missing encoding every other branch of this module uses
    * (r12 advice: don't mix NaN and NULL in one output column).
    * Negative n looks forward. */
  def pctChange(df: DataFrame, column: String, n: Int = 1,
                orderCol: String = "k", partitionBy: Seq[String] = Nil,
                fillMethod: Option[String] = Some("pad")): DataFrame = {
    require(n != 0, "pct_change periods must be nonzero")
    val df0 = nanAsNull(df, Seq(column))
    val base = (if (partitionBy.nonEmpty)
                  Window.partitionBy(partitionBy.map(col): _*)
                else Window.partitionBy())
      .orderBy(col(orderCol))
    val cur: Column = fillMethod match {
      case Some("pad") => last(col(column), ignoreNulls = true)
        .over(base.rowsBetween(Window.unboundedPreceding,
          Window.currentRow))
      case None => col(column)
      case Some(other) => throw new IllegalArgumentException(
        s"fill_method must be pad or None, got '$other'")
    }
    val df1 = df0.withColumn("__cur", cur.cast("double"))
    val prev = (if (n >= 0) lag(col("__cur"), n)
                else lead(col("__cur"), -n)).over(base)
    df1.withColumn("pct_change",
        when(col("__cur").isNull || prev.isNull, lit(null))
          .when(prev === 0.0 && col("__cur") === 0.0,
            lit(null))
          .when(prev === 0.0,
            when(col("__cur") > 0, lit(Double.PositiveInfinity))
              .otherwise(lit(Double.NegativeInfinity)))
          .otherwise(col("__cur") / prev - 1.0))
      .drop("__cur")
  }

  /** pandas `pd.cut(x, edges, labels=False)`: the 0-based bin index of
    * each value against EXPLICIT edges, missing/out-of-range → missing.
    * `right=true` bins are (lo, hi] — a value equal to the leftmost
    * edge falls OUT unless `includeLowest` closes the first bin;
    * `right=false` bins are [lo, hi). The chained CASE stays inside
    * whole-stage codegen; bin counts are user-written (≲ hundreds), so
    * the linear chain beats a binary-search expression in practice. */
  def cutBins(c: Column, edges: Seq[Double], right: Boolean = true,
              includeLowest: Boolean = false): Column = {
    require(edges.size >= 2, "cut needs at least two edges")
    require(edges == edges.sorted, "cut edges must be ascending")
    var out: Column = lit(null).cast("long")
    for (i <- edges.indices.dropRight(1)) {
      val lo = lit(edges(i)); val hi = lit(edges(i + 1))
      val cond =
        if (right)
          ((c > lo) || (if (includeLowest && i == 0) c === lo
                        else lit(false))) && (c <= hi)
        else (c >= lo) && (c < hi)
      out = when(cond, lit(i.toLong)).otherwise(out)
    }
    when(c.isNull || isnan(c.cast("double")), lit(null).cast("long"))
      .otherwise(out)
  }

  /** pandas `pd.cut(x, n_bins, labels=False)` (integer bins): edges are
    * np.linspace(min, max, bins+1) with the outermost edge pushed 0.1%
    * of the range OUTWARD (left edge for right-closed bins, right edge
    * otherwise — probed 2026-08-16: cut of [0..10] into 2 has edges
    * [-0.01, 5, 10]), so every value lands in a bin. The edge formula
    * mirrors np.linspace's `start + i*step` evaluation order for
    * bit-identical boundaries. Two scans: one min/max aggregate, one
    * binning projection; appends `bin`. */
  def cutUniform(df: DataFrame, column: String, bins: Int,
                 right: Boolean = true): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val df0 = nanAsNull(df, Seq(column))
    val mmRow = df0.agg(min(col(column).cast("double")),
      max(col(column).cast("double"))).head()
    if (mmRow.isNullAt(0)) // empty or all-missing column: every bin is
      return df0.withColumn("bin", lit(null).cast("long")) // missing
    val (mn0, mx0) = (mmRow.getDouble(0), mmRow.getDouble(1))
    val inner =
      if (mn0 == mx0) {
        // pandas widens a constant range BEFORE binning (tile.py:
        // mn -= .001·|mn| (or .001 at 0), mx += likewise) and skips the
        // outer-edge adjustment — every value lands in a bin (r12
        // review; pd.cut([5,5,5], 2) assigns bin 0)
        val mn = mn0 - (if (mn0 != 0) 0.001 * math.abs(mn0) else 0.001)
        val mx = mx0 + (if (mx0 != 0) 0.001 * math.abs(mx0) else 0.001)
        val step = (mx - mn) / bins
        val e = (0 to bins).map(i => mn + step * i).toArray
        e(bins) = mx
        e
      } else {
        val step = (mx0 - mn0) / bins
        val e = (0 to bins).map(i => mn0 + step * i).toArray
        e(bins) = mx0
        val adj = (mx0 - mn0) * 0.001
        if (right) e(0) = mn0 - adj else e(bins) = mx0 + adj
        e
      }
    df0.withColumn("bin", cutBins(col(column), inner.toSeq, right))
  }

  /** pandas `pd.qcut(x, q, labels=False, duplicates=)`: quantile-based
    * bin index. Bin assignment is DISCRETE, so the edges must be
    * bit-identical to pandas', not merely close — and pandas' edge is
    * NOT the textbook linear-interpolation quantile: `Series.quantile`
    * routes through `np.percentile(vals, q*100)`, and the ×100/÷100
    * round-trip shifts non-dyadic probabilities by an ulp, which
    * systematically reassigns every data value sitting ON a nominal
    * quantile position (qcut of n values at q | n−1 puts edges exactly
    * on data points — the worst case). This function replays the whole
    * float chain: linspace step `i*(1/q)`, the ×100/÷100 round-trip,
    * virtual index `p*(n−1)`, and np._lerp including its γ ≥ 0.5
    * `b − (b−a)(1−γ)` branch (verified exact against pandas on 20k
    * random draws, ints and 3-decimal floats, q ≤ 8).
    *
    * duplicates="drop" collapses equal edges (labels renumber);
    * "raise" fails like pandas. Cost: one count + one distributed
    * range-sort with the ≤ 2(q+1) needed order statistics filtered out
    * by RDD `zipWithIndex` (no one-task window, no full collect). At 100 TB
    * pass `approxAccuracy` — edges come from one `approx_percentile`
    * aggregate (GK sketch, map-side partials, no sort) and bins are
    * approximately-equal-sized rather than pandas-exact; the binning
    * projection is unchanged. */
  def qcutBins(df: DataFrame, column: String, q: Int,
               duplicates: String = "raise",
               approxAccuracy: Option[Int] = None): DataFrame = {
    require(q >= 1, s"q must be >= 1, got $q")
    require(Seq("raise", "drop").contains(duplicates),
      s"duplicates must be raise|drop, got '$duplicates'")
    val df0 = nanAsNull(df, Seq(column))
    approxAccuracy.foreach { acc =>
      val probs = (0 to q).map(i => i.toDouble / q)
      val row = df0.agg(percentile_approx(col(column).cast("double"),
        array(probs.map(lit): _*), lit(acc)).as("e")).head()
      if (row.isNullAt(0))
        return df0.withColumn("bin", lit(null).cast("long"))
      val sketch = row.getSeq[Double](0)
      val uniq = sketch.foldLeft(Vector.empty[Double]) {
        (acc0, e) => if (acc0.nonEmpty && acc0.last == e) acc0
                     else acc0 :+ e }
      if (uniq.size < sketch.size && duplicates == "raise")
        throw new IllegalArgumentException( // same contract as exact path
          s"qcut: bin edges are not unique: ${sketch.mkString(",")}")
      if (uniq.size < 2)
        return df0.withColumn("bin", lit(null).cast("long"))
      return df0.withColumn("bin",
        cutBins(col(column), uniq, right = true, includeLowest = true))
    }
    val vcol = df0.where(col(column).isNotNull)
      .select(col(column).cast("double"))
    val n = vcol.count()
    if (n == 0) // empty or all-missing column: every bin is missing
      return df0.withColumn("bin", lit(null).cast("long"))
    val step = 1.0 / q
    // (p, virtual index, floor, gamma) per quantile — pandas' floats
    val parts = (0 to q).map { i =>
      val p0 = if (i == q) 1.0 else i * step
      val p = (p0 * 100.0) / 100.0 // Series.quantile's percent round-trip
      val vi = p * (n - 1).toDouble
      val j = math.floor(vi)
      (j.toLong, vi - j)
    }
    val needed = parts.flatMap { case (j, _) =>
      Seq(j, math.min(j + 1, n - 1)) }.toSet
    val stats: Map[Long, Double] = vcol.orderBy(col(column))
      .rdd.zipWithIndex()
      .filter { case (_, idx) => needed.contains(idx) }
      .map { case (row, idx) => (idx, row.getDouble(0)) }
      .collect().toMap
    val edges = parts.map { case (j, g) =>
      val a = stats(j)
      val b = stats(math.min(j + 1, n - 1))
      if (g < 0.5) a + g * (b - a) else b - (b - a) * (1.0 - g)
    }
    // pandas drops CONSECUTIVE duplicate edges (they're sorted)
    val uniq = edges.foldLeft(Vector.empty[Double]) { (acc, e) =>
      if (acc.nonEmpty && acc.last == e) acc else acc :+ e }
    if (uniq.size < edges.size && duplicates == "raise")
      throw new IllegalArgumentException(
        s"qcut: bin edges are not unique: ${edges.mkString(",")}")
    if (uniq.size < 2) // all values identical: pandas yields one
      return df0.withColumn("bin", // empty-interval bin → all missing
        lit(null).cast("long"))
    df0.withColumn("bin",
      cutBins(col(column), uniq, right = true, includeLowest = true))
  }

  /** pandas `ewm(alpha, adjust=, ignore_na=, min_periods=).mean()`:
    * exponentially-weighted mean along `orderCol`, appended as `ewm`. The
    * [[Ewm]] kernel's running mean: missing positions carry it forward
    * and rows before `minPeriods` observations read missing. A genuinely
    * RECURSIVE accumulation (y depends on y_prev), so it runs as one
    * [[sortedGroupPass]], not a window aggregate. */
  def ewmMean(df: DataFrame, column: String, alpha: Double,
              orderCol: String, partitionBy: Seq[String] = Nil,
              adjust: Boolean = true, ignoreNa: Boolean = false,
              minPeriods: Int = 1): DataFrame =
    ewmColumn(df, column, orderCol, partitionBy,
      Ewm(alpha, adjust, ignoreNa), "mean", minPeriods, bias = false)

  /** pandas `ewm(...).var()` / `.std()`: exponentially-weighted sample
    * variance along `orderCol`, appended as `ewm` — the [[Ewm]] kernel
    * stepped with x == y, read through [[Ewm.State.covariance]] (pandas
    * floors min_periods at 1 for var/std); std is pandas `zsqrt`. Kernel
    * verified bit-exact against pandas 2.2.2 on 26k random draws (probe
    * 2026-08-16) and replayed by the op-fuzz `ewm` family. Same
    * execution as [[ewmMean]]. */
  def ewmVar(df: DataFrame, column: String, alpha: Double,
             orderCol: String, partitionBy: Seq[String] = Nil,
             adjust: Boolean = true, ignoreNa: Boolean = false,
             minPeriods: Int = 1, bias: Boolean = false,
             std: Boolean = false): DataFrame =
    ewmColumn(df, column, orderCol, partitionBy,
      Ewm(alpha, adjust, ignoreNa), if (std) "std" else "var", minPeriods,
      bias)

  /** pandas `ewm(alpha, ignore_na=, min_periods=).sum()` along
    * `orderCol`, appended as `ewm` — the [[Ewm]] kernel's UNNORMALIZED
    * sum (pandas' normalize=False path): a missing position OUTPUTS the
    * decayed sum (unlike mean, which carries), and rows before the first
    * observation read missing. pandas raises NotImplementedError for
    * adjust=False sum, so there is no adjust parameter. Kernel replicated
    * bit-exact vs pandas 2.2.2 on 8,083 probe cells (2026-08-17). Same
    * execution as [[ewmMean]]. */
  def ewmSum(df: DataFrame, column: String, alpha: Double,
             orderCol: String, partitionBy: Seq[String] = Nil,
             ignoreNa: Boolean = false, minPeriods: Int = 1): DataFrame =
    ewmColumn(df, column, orderCol, partitionBy,
      Ewm(alpha, adjust = true, ignoreNa), "sum", minPeriods, bias = false)

  /** One ewm statistic of one column (`Ewm.reader`'s `stat`). */
  private def ewmColumn(df: DataFrame, column: String, orderCol: String,
                        partitionBy: Seq[String], ewm: Ewm, stat: String,
                        minPeriods: Int, bias: Boolean): DataFrame = {
    val read = ewm.reader(stat, minPeriods, bias)
    val df0 = nanAsNull(df, Seq(column))
    val idx = df0.schema.fieldIndex(column)
    sortedGroupPass(df0, partitionBy, Seq(orderCol), "ewm") { () =>
      val s = Ewm.State()
      row => {
        val x = cell(row, idx)
        ewm.step(s, !x.isNaN, x, !x.isNaN, x)
        nullIfNaN(read(s))
      }
    }
  }

  /** pandas `ewm(...).cov(other, bias=)` / `.corr(other)` along
    * `orderCol`, appended as `ewm`. Semantics pinned by probe
    * (2026-08-16, 0/8,802 cells off vs pandas 2.2.2 once the kernel
    * alpha rides pandas' alpha→com→alpha round-trip — callers who
    * start from a raw alpha should pass
    * `ewmAlphaFromCom((1-α)/α)`):
    *  - `cov`: ONE [[Ewm]] kernel over the two columns — an
    *    observation is a row where BOTH are present; a half-missing
    *    row decays weights (under ignore_na=false) but moves nothing.
    *  - `corr`: the inputs are masked to the COMMON present pattern
    *    first (a half-missing row contributes to NEITHER the
    *    covariance nor either variance — pandas' own x-masked
    *    `_cov(x,x)` would say otherwise, but the executed reference
    *    freezes on half-missing rows, and the probe is the contract),
    *    then cov/var_x/var_y run as three bias=True kernel states in the
    *    same pass and the output is cov/zsqrt(var_x·var_y), missing
    *    when the denominator is 0 or missing (a 0 denominator forces
    *    cov = 0, so no ±inf branch exists).
    * Same execution as [[ewmMean]]. */
  def ewmCov(df: DataFrame, xCol: String, yCol: String, alpha: Double,
             orderCol: String, partitionBy: Seq[String] = Nil,
             adjust: Boolean = true, ignoreNa: Boolean = false,
             minPeriods: Int = 1, bias: Boolean = false,
             corr: Boolean = false): DataFrame = {
    val ewm = Ewm(alpha, adjust, ignoreNa)
    val df0 = nanAsNull(df, Seq(xCol, yCol))
    val xIdx = df0.schema.fieldIndex(xCol)
    val yIdx = df0.schema.fieldIndex(yCol)
    sortedGroupPass(df0, partitionBy, Seq(orderCol), "ewm") { () =>
      val c = Ewm.State()
      val vx = Ewm.State()
      val vy = Ewm.State()
      row => {
        val x = cell(row, xIdx)
        val y = cell(row, yIdx)
        val obs = !x.isNaN && !y.isNaN
        ewm.step(c, obs, x, obs, y)
        nullIfNaN(if (!corr) c.covariance(minPeriods, bias) else {
          ewm.step(vx, obs, x, obs, x)
          ewm.step(vy, obs, y, obs, y)
          val den = Ewm.zsqrt(vx.covariance(minPeriods, bias = true) *
            vy.covariance(minPeriods, bias = true))
          if (den == 0.0) Double.NaN
          else c.covariance(minPeriods, bias = true) / den
        })
      }
    }
  }

  /** pandas' ewm parameterizations, replaying its exact float chain:
    * every form converts to a center-of-mass first
    * (`get_center_of_mass`), and the kernel's alpha is 1/(1+com)
    * (aggregations.pyx). Probed 2026-08-16: the span chain reproduces
    * pandas bitwise; halflife can differ from pandas by one ulp
    * (np.exp vs java.lang.Math.exp), inside every comparison tolerance
    * used here. */
  def ewmAlphaFromCom(com: Double): Double = {
    require(com >= 0, s"com must be >= 0, got $com")
    1.0 / (1.0 + com)
  }

  def ewmAlphaFromSpan(span: Double): Double = {
    require(span >= 1, s"span must be >= 1, got $span")
    ewmAlphaFromCom((span - 1.0) / 2.0)
  }

  def ewmAlphaFromHalflife(halflife: Double): Double = {
    require(halflife > 0, s"halflife must be > 0, got $halflife")
    val decay = 1.0 - math.exp(math.log(0.5) / halflife)
    ewmAlphaFromCom(1.0 / decay - 1.0)
  }

  /** The secondary-sort pass behind the ewm and time-rolling verbs, for
    * per-row state that a Spark window aggregate cannot carry:
    * hash-repartition on `partitionBy`, sort WITHIN partitions by
    * (`partitionBy`, `orderBy`), one typed `Dataset.mapPartitions` fold
    * in the caller's plan (no global sort, no group materialization).
    * `newGroup` builds a fresh per-group fold; each call returns the
    * row's appended DOUBLE `outCol` cell. The unpartitioned form is a
    * single-partition sort — small frames only, same contract as
    * [[shiftRows]]. */
  private def sortedGroupPass(df0: DataFrame, partitionBy: Seq[String],
                              orderBy: Seq[String], outCol: String)
                             (newGroup: () => Row => Any): DataFrame = {
    val sorted =
      if (partitionBy.nonEmpty)
        df0.repartition(partitionBy.map(col): _*)
          .sortWithinPartitions((partitionBy ++ orderBy).map(col): _*)
      else df0.coalesce(1).sortWithinPartitions(orderBy.map(col): _*)
    val keyIdx = partitionBy.map(df0.schema.fieldIndex)
    sorted.mapPartitions { it =>
      var curKey: Seq[Any] = null
      var fold: Row => Any = null
      it.map { row =>
        val key = keyIdx.map(row.get)
        if (fold == null || key != curKey) { // new group: fresh state
          curKey = key
          fold = newGroup()
        }
        Row.fromSeq(row.toSeq :+ fold(row))
      }
    }(ExpressionEncoder(RowEncoder.encoderFor(
      df0.schema.add(outCol, org.apache.spark.sql.types.DoubleType))))
  }

  /** A numeric cell as a double, NaN when missing. */
  private def cell(row: Row, i: Int): Double =
    if (row.isNullAt(i)) Double.NaN
    else row.get(i).asInstanceOf[Number].doubleValue()

  private def nullIfNaN(v: Double): Any = if (v.isNaN) null else v

  /** pandas `pd.crosstab(row, col, margins=)`: the count matrix of two
    * key columns — rows where EITHER key is missing drop (pandas
    * dropna), keys sort ascending, absent combinations read 0.
    * margins=true appends an `All` column (row sums) and an `All` row
    * (column sums + grand total). One grouped pivot shuffle; the
    * column domain is collected first (bounded-cardinality contract,
    * same as [[valueCounts]]'s canonical ordering) so the pivot runs
    * single-pass with explicit values. Output column names are the
    * stringified column-key values. */
  def crosstabCounts(df: DataFrame, rowCol: String, colCol: String,
                     margins: Boolean = false,
                     maxDomain: Int = 10000): DataFrame = {
    val df0 = nanAsNull(df, Seq(rowCol, colCol))
      .where(col(rowCol).isNotNull && col(colCol).isNotNull)
    // fail-loudly domain cap: the column domain becomes the OUTPUT
    // SCHEMA WIDTH, so an unbounded domain is a contract violation, not
    // a scale problem to engineer around. take(cap+1) over the sorted
    // distinct = TakeOrderedAndProject — driver memory stays bounded by
    // the cap even when the probe fails.
    val colVals = df0.select(col(colCol)).distinct()
      .orderBy(col(colCol).asc).take(maxDomain + 1).map(_.get(0)).toSeq
    require(colVals.size <= maxDomain,
      s"crosstab: column '$colCol' has more than $maxDomain distinct " +
        "values — the domain becomes the output width; bucket or " +
        "aggregate the column first (or raise maxDomain)")
    val wide = df0.groupBy(col(rowCol)).pivot(colCol, colVals)
      .agg(count(lit(1))).na.fill(0).orderBy(col(rowCol).asc)
    if (!margins || colVals.isEmpty) wide
    else {
      val names = colVals.map(_.toString)
      val withAll = wide.withColumn("All",
        names.map(n => col(s"`$n`")).reduce(_ + _))
      val sums = names.map(n => sum(col(s"`$n`")).as(n)) :+
        sum(col("All")).as("All")
      val allRow = withAll.groupBy(lit("All").cast("string").as("__all"))
        .agg(sums.head, sums.tail: _*)
        .withColumnRenamed("__all", rowCol)
      // pandas keeps the All row LAST; the row key column becomes
      // string-typed to host the "All" label, like pandas' object index
      withAll.select(col(rowCol).cast("string").as(rowCol) +:
          (names :+ "All").map(n => col(s"`$n`")): _*)
        .unionByName(allRow.select(col(rowCol) +:
          (names :+ "All").map(n => col(s"`$n`")): _*))
    }
  }

  /** pandas `pd.get_dummies(series, prefix=, dummy_na=)`: one BOOLEAN
    * indicator column per distinct non-missing value, named by the
    * value (pandas `{prefix}{prefix_sep}{value}` when a prefix is
    * given), sorted ascending; a missing value reads false everywhere
    * (dummy_na=true appends a `NaN` indicator column instead). The
    * domain is collected first under the fail-loudly `maxDomain` cap
    * (it becomes output schema width — same contract as
    * [[crosstabCounts]]); the indicators themselves are a single
    * codegen'd projection appended to the frame. pandas returns a
    * FRESH frame so no name can collide; graft appends to the input,
    * so an indicator name equal to an existing column raises — pass a
    * prefix to disambiguate (the asofJoin rightPrefix pattern). */
  def getDummies(df: DataFrame, column: String,
                 dummyNa: Boolean = false, prefix: String = "",
                 prefixSep: String = "_",
                 maxDomain: Int = 10000): DataFrame = {
    val df0 = nanAsNull(df, Seq(column))
    val vals = df0.where(col(column).isNotNull).select(col(column))
      .distinct().orderBy(col(column).asc)
      .take(maxDomain + 1).map(_.get(0)).toSeq
    require(vals.size <= maxDomain,
      s"get_dummies: column '$column' has more than $maxDomain " +
        "distinct values — the domain becomes the output width; " +
        "bucket or aggregate the column first (or raise maxDomain)")
    def nameOf(v: String): String =
      if (prefix.isEmpty) v else s"$prefix$prefixSep$v"
    val names = vals.map(v => nameOf(v.toString)) ++
      (if (dummyNa) Seq(nameOf("NaN")) else Nil)
    val clash = names.toSet.intersect(df0.columns.toSet)
    require(clash.isEmpty,
      s"get_dummies: indicator name(s) ${clash.mkString(", ")} collide " +
        "with existing columns — pass prefix= to disambiguate")
    val indicators = vals.zip(names).map { case (v, n) =>
      coalesce(col(column) === lit(v), lit(false)).as(n) } ++
      (if (dummyNa) Seq(col(column).isNull.as(nameOf("NaN"))) else Nil)
    df0.select(df0.columns.map(col).toSeq ++ indicators: _*)
  }

  /** pandas `pd.factorize(series)`: integer codes in order of FIRST
    * APPEARANCE along `orderCol`. Missing → code −1 and excluded from
    * the uniques (use_na_sentinel default); `useNaSentinel=false` gives
    * missing its own appearance-ordered code. Appends `code`. Two keyed
    * shuffles: one first-occurrence aggregate over the value domain
    * + one value join back. Codes come from a DISTRIBUTED range-sort
    * over the domain + RDD `zipWithIndex`: factorize is the verb users
    * point at high-cardinality columns (ids, URLs), where a `row_number`
    * with no PARTITION BY runs on one task, and Spark's in-plan
    * `AttachDistributedSequenceExec` stores its child outside
    * [[graft.Materialize]]. The domain-sized codes frame is
    * materialized, so the size probe and the join share one compute,
    * and is broadcast only when it fits under
    * `broadcastDomainCap` rows — beyond that the join shuffles both
    * sides on the value, which is the correct 100 TB plan. Uniques are
    * recoverable as `distinct(code, value) ORDER BY code`. */
  def factorizeCodes(df: DataFrame, column: String, orderCol: String,
                     useNaSentinel: Boolean = true,
                     broadcastDomainCap: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val df0 = nanAsNull(df, Seq(column))
    val pool = if (useNaSentinel) df0.where(col(column).isNotNull)
               else df0
    val firstSeen = pool.groupBy(col(column))
      .agg(min(col(orderCol)).as("__fo"))
    // first-appearance positions are unique when orderCol is (the
    // carried-index contract); the value tiebreak only pins determinism
    // for duplicated orderCol values
    val codedRdd = firstSeen.orderBy(col("__fo"), col(column)).rdd
      .zipWithIndex().map { case (r0, i) => Row(r0.get(0), i) }
    val codes = Materialize(df0.sparkSession.createDataFrame(codedRdd,
        StructType(Seq(firstSeen.schema.fields(0),
          StructField("code", LongType, nullable = false)))))
    val domain = Materialize.rowCount(codes)
    val codesSide = if (domain <= broadcastDomainCap) broadcast(codes)
                    else codes
    // the join must be null-safe when missing carries its own code
    if (useNaSentinel)
      df0.join(codesSide, Seq(column), "left")
        .withColumn("code", coalesce(col("code"), lit(-1L)))
    else
      df0.join(codesSide, df0(column) <=> codes(column), "left")
        .drop(codes(column))
  }

  /** pandas `Series.corr(other)` / `Series.cov(other)`: pairwise
    * complete observations (a row missing EITHER side drops), sample
    * statistics (ddof=1). Fewer than two complete pairs → missing,
    * like pandas min_periods, and a ZERO-VARIANCE side reads missing
    * too — Spark's own `corr` aggregate throws DIVIDE_BY_ZERO there
    * under ANSI mode (alt-seed fuzz caught it, r13: complete pairs
    * [-1,-1] × [7.984, 0.273]), so the statistic is built from
    * null-guarded pieces over the pre-filtered complete pairs:
    * covar_samp / nullif(sx·sy, 0) — algebraically Pearson, and a 0
    * or missing denominator reads missing instead of raising.
    * One aggregate, map-side partials. */
  def corrCov(df: DataFrame, col1: String, col2: String,
              fn: String): DataFrame = {
    val df0 = nanAsNull(df, Seq(col1, col2))
      .where(col(col1).isNotNull && col(col2).isNotNull)
    val agg: Column = fn match {
      case "corr" => covar_samp(col(col1), col(col2)) /
        nullif(stddev_samp(col(col1)) * stddev_samp(col(col2)), lit(0.0))
      case "cov"  => covar_samp(col(col1), col(col2))
      case other => throw new IllegalArgumentException(
        s"fn must be corr|cov, got '$other'")
    }
    df0.agg(agg.as("stat"))
  }

  /** pandas `stack()` (legacy default, dropna=True): the value columns
    * fold into (variable, value) rows in ROW-MAJOR order — all of a
    * row's columns consecutive, in the given column order — and
    * missing cells DROP (probed 2026-08-16: a NaN cell simply has no
    * output row). [[meltFrame]]'s per-row explode already emits
    * row-major, so stack is melt + the missing-cell filter; the
    * numeric-unification cast is melt's. `dropNa=false` keeps missing
    * cells as null-valued rows (pandas future_stack). */
  def stackFrame(df: DataFrame, idVars: Seq[String],
                 valueVars: Seq[String],
                 dropNa: Boolean = true): DataFrame = {
    val melted = meltFrame(nanAsNull(df, valueVars), idVars, valueVars)
    if (dropNa) melted.where(col("value").isNotNull) else melted
  }

  /** pandas `Series.unstack()` on a two-level (index, columns) key:
    * the wide first-value matrix — one output column per distinct
    * column key (sorted ascending, stringified names like
    * [[pivotTable]]), absent combinations missing. pandas RAISES on a
    * duplicated (index, column) pair ("Index contains duplicate
    * entries"); the raise here lives INSIDE the pivot aggregate
    * (count > 1 → raise_error), so the guard costs no extra pass.
    * Missing keys on either level drop (documented divergence: pandas
    * keeps a NaN level as a NaN-labeled row/column — not representable
    * as a Spark column name). Domain cap contract as
    * [[crosstabCounts]]. */
  def unstackFrame(df: DataFrame, index: String, columns: String,
                   values: String, maxDomain: Int = 10000): DataFrame = {
    val df0 = nanAsNull(df, Seq(index, columns, values))
      .where(col(index).isNotNull && col(columns).isNotNull)
    val colVals = df0.select(col(columns)).distinct()
      .orderBy(col(columns).asc).take(maxDomain + 1).map(_.get(0)).toSeq
    require(colVals.size <= maxDomain,
      s"unstack: column '$columns' has more than $maxDomain distinct " +
        "values — the domain becomes the output width (raise maxDomain " +
        "only deliberately)")
    df0.groupBy(col(index)).pivot(columns, colVals)
      .agg(when(count(lit(1)) > 1, raise_error(concat(
          lit("unstack: index contains duplicate entries for key="),
          first(col(index)).cast("string"))))
        .otherwise(first(col(values))))
  }

  /** pandas `resample(freq).fn()` with the pandas defaults pinned
    * (probed 2026-08-16): bins are `[b, b+freq)` (closed='left')
    * anchored at MIDNIGHT OF THE FIRST DAY (`origin='start_day'` — for
    * freqs that don't divide 86400s this differs from epoch
    * anchoring), labeled by the left edge (`label='right'` adds one
    * freq), and EMPTY bins between the first and last populated bin
    * are emitted: sum → 0.0, count → 0, mean/min/max → missing.
    * Output: (`bin` timestamp, `agg` value), one row per bin.
    *
    * r13 fn breadth: `std`/`var` (ddof=1, single-observation bin
    * missing), `median` (linear interpolation, exact `percentile`),
    * `first`/`last` (first/last NON-missing value in time order;
    * on a DUPLICATED timestamp pandas keeps stable arrival order but
    * a distributed min_by/max_by tie-break is arbitrary — the
    * contract here is duplicate-free timestamps for first/last, and
    * the fuzz family draws them so).
    *
    * Scale shape: one scalar min/max aggregate (1-row collect, the
    * adjudicated pattern) pins the bin range; the full bin axis
    * generates DISTRIBUTED via `spark.range(nBins)` (never a
    * driver-side sequence — at 100 TB a years-long span at seconds
    * granularity is billions of bins); data aggregates per-bin with
    * map-side partials and the empty bins arrive by left join, both
    * sides hash-partitioned on the bin. */
  def resampleAgg(df: DataFrame, tsCol: String, freqMicros: Long,
                  fn: String, valueCol: String,
                  label: String = "left"): DataFrame = {
    require(freqMicros > 0, s"freq must be positive, got $freqMicros")
    require(Seq("left", "right").contains(label),
      s"label must be left|right, got '$label'")
    val df0 = nanAsNull(df, Seq(valueCol))
      .withColumn("__t", unix_micros(col(tsCol).cast("timestamp")))
    val range = df0.agg(
      unix_micros(date_trunc("DAY",
        min(col(tsCol).cast("timestamp")))).as("day0"),
      min(col("__t")).as("tmin"), max(col("__t")).as("tmax")).head()
    if (range.isNullAt(0))
      return df0.sparkSession.emptyDataFrame
        .select(lit(null).cast("timestamp").as("bin"),
          lit(null).cast("double").as("agg")).limit(0)
    val day0 = range.getLong(0)
    // pure long arithmetic (pmod floors negatives too) — double division
    // near a bin boundary could mis-bin at large epoch offsets
    val binOf = (t: Column) => {
      val off = t - day0
      off - pmod(off, lit(freqMicros)) + day0
    }
    val firstBin = day0 +
      math.floorDiv(range.getLong(1) - day0, freqMicros) * freqMicros
    val lastBin = day0 +
      math.floorDiv(range.getLong(2) - day0, freqMicros) * freqMicros
    val nBins = (lastBin - firstBin) / freqMicros + 1
    val axis = df0.sparkSession.range(nBins)
      .select((col("id") * freqMicros + firstBin).as("__bin"))
    val v = col(valueCol)
    // r13 breadth: std/var are pandas' ddof=1 sample statistics (a
    // single-observation bin reads missing, like pandas); median is
    // linear-interpolation over the bin's non-missing values (≡ exact
    // `percentile`); first/last are the first/last NON-missing value in
    // time order (pandas GroupBy.first/last skip NA) via min_by/max_by
    // on the timestamp — rows whose value is missing contribute no
    // ordering key, so they are skipped inside the same aggregate.
    val agg: Column = fn match {
      case "mean"  => avg(v)
      case "sum"   => sum(v).cast("double")
      case "min"   => min(v).cast("double")
      case "max"   => max(v).cast("double")
      case "count" => count(v)
      case "std"   => stddev_samp(v)
      case "var"   => var_samp(v)
      case "median" => percentile(v.cast("double"), lit(0.5))
      case "first" => min_by(v, when(v.isNotNull, col("__t")))
      case "last"  => max_by(v, when(v.isNotNull, col("__t")))
      case other => throw new IllegalArgumentException(
        s"fn must be mean|sum|min|max|count|std|var|median|first|last, " +
          s"got '$other'")
    }
    val perBin = df0.groupBy(binOf(col("__t")).as("__bin")).agg(agg.as("agg"))
    val joined = axis.join(perBin, Seq("__bin"), "left")
    // pandas empty-bin fills: sum reads 0.0 (min_count=0), count 0
    val filled = fn match {
      case "sum"   => joined.withColumn("agg",
        coalesce(col("agg"), lit(0.0)))
      case "count" => joined.withColumn("agg",
        coalesce(col("agg"), lit(0L)))
      case _ => joined
    }
    val labelShift = if (label == "right") freqMicros else 0L
    filled.select(
        timestamp_micros(col("__bin") + labelShift).as("bin"),
        col("agg"))
      .orderBy(col("bin"))
  }
}
