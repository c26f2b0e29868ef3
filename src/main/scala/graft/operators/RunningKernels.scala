package graft.operators

/** pandas' exponentially-weighted recurrence (window/aggregations.pyx),
  * shared by the batch `InheritedOps.ewm*` verbs and
  * `StreamingOps.ewmStream`. Constructing one validates the parameters,
  * so a verb raises when it is built, not when its first task runs.
  *
  * [[step]] folds one row into an [[Ewm.State]]: ONE pandas `ewmcov`
  * instance plus pandas' unnormalized ewm sum. An observation is a row
  * where both inputs are present; a present value is never NaN (the
  * callers map NaN to missing first). Once the running mean has started
  * the weights decay by (1−α) per ROW (per OBSERVATION when ignore_na),
  * an observation folds in with weight 1 (adjust=true) or α
  * (adjust=false, the weights renormalized to an old weight of 1), the
  * two means update like pandas' mean kernel and the covariance folds in
  * against the UPDATED means. The sum decays by the same rule and adds
  * each observation. A missing row carries the running values forward,
  * and the first observation after a NaN running value restarts it, as
  * in pandas. Stepping with x == y gives the var/std kernel: the same
  * floating-point operations in the same order as a one-column ewmcov. */
final case class Ewm(alpha: Double, adjust: Boolean, ignoreNa: Boolean) {
  require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
  private val oldWtFactor = 1.0 - alpha
  private val newWt = if (adjust) 1.0 else alpha

  def step(s: Ewm.State, xPresent: Boolean, x: Double,
           yPresent: Boolean, y: Double): Unit = {
    val obs = xPresent && yPresent
    if (obs) s.nobs += 1
    if (!s.sum.isNaN) {
      if (obs || !ignoreNa) {
        s.sum *= oldWtFactor
        if (obs) s.sum += x
      }
    } else if (obs) s.sum = x
    if (!s.meanX.isNaN) {
      if (obs || !ignoreNa) {
        s.sumWt *= oldWtFactor
        s.sumWt2 *= oldWtFactor * oldWtFactor
        s.oldWt *= oldWtFactor
        if (obs) {
          val omx = s.meanX
          val omy = s.meanY
          val wt = s.oldWt + newWt
          if (omx != x) s.meanX = (s.oldWt * omx + newWt * x) / wt
          if (omy != y) s.meanY = (s.oldWt * omy + newWt * y) / wt
          s.cov = (s.oldWt * (s.cov + (omx - s.meanX) * (omy - s.meanY)) +
            newWt * ((x - s.meanX) * (y - s.meanY))) / wt
          s.sumWt += newWt
          s.sumWt2 += newWt * newWt
          s.oldWt += newWt
          if (!adjust) {
            s.sumWt /= s.oldWt
            s.sumWt2 /= s.oldWt * s.oldWt
            s.oldWt = 1.0
          }
        }
      }
    } else if (obs) {
      s.meanX = x
      s.meanY = y
    }
  }

  /** The per-row output of a one-column ewm statistic (NaN = missing):
    *  - `mean`: the running mean once `minPeriods` observations were seen;
    *  - `sum`: the running sum under the same gate (pandas raises
    *    NotImplementedError for adjust=false sum, so this does too);
    *  - `var`/`std`: [[Ewm.State.covariance]], std through [[Ewm.zsqrt]]. */
  def reader(stat: String, minPeriods: Int, bias: Boolean)
      : Ewm.State => Double = stat match {
    case "mean" => s => if (s.nobs >= minPeriods) s.meanX else Double.NaN
    case "sum" =>
      require(adjust, "sum is not implemented with adjust=false")
      s => if (s.nobs >= minPeriods) s.sum else Double.NaN
    case "var" => _.covariance(minPeriods, bias)
    case "std" => s => Ewm.zsqrt(s.covariance(minPeriods, bias))
    case other => throw new IllegalArgumentException(
      s"stat must be mean|var|std|sum, got $other")
  }
}

object Ewm {

  /** One group's running ewm values: the means of x and y, their
    * covariance, the weight sum W1 (`sumWt`), the squared-weight sum W2
    * (`sumWt2`), pandas' old_wt, the observation count and the
    * unnormalized sum. NaN means and sum mean "not started". A case class
    * so a streaming state store keeps it as is. */
  final case class State(var meanX: Double = Double.NaN,
                         var meanY: Double = Double.NaN,
                         var cov: Double = 0.0,
                         var sumWt: Double = 1.0,
                         var sumWt2: Double = 1.0,
                         var oldWt: Double = 1.0,
                         var nobs: Long = 0L,
                         var sum: Double = Double.NaN) {

    /** pandas `ewmcov` output: missing before max(`minPeriods`, 1)
      * observations; `bias` reads the running covariance, otherwise it is
      * debiased by W1²/(W1²−W2), missing when that denominator is not
      * positive (a single effective observation). */
    def covariance(minPeriods: Int, bias: Boolean): Double =
      if (nobs < math.max(minPeriods, 1)) Double.NaN
      else if (bias) cov
      else {
        val num = sumWt * sumWt
        val den = num - sumWt2
        if (den > 0) (num / den) * cov else Double.NaN
      }
  }

  /** pandas `zsqrt`: a negative rounding residue reads 0.0, not NaN. */
  def zsqrt(v: Double): Double = if (v < 0) 0.0 else math.sqrt(v)
}

/** pandas time-based `rolling(offset, closed=)` aggregate, shared by
  * `InheritedOps.rollingTimeAgg` and `StreamingOps.rollingTimeStream`.
  * Constructing one validates the parameters.
  *
  * [[push]] appends one row to a group's [[TimeWindow.State]] deque,
  * evicts the rows older than the trailing window and aggregates what is
  * left, so a group holds only its in-window rows (O(W) state, eviction
  * O(1) amortized). `closed` pins the time endpoints: 'right' = (t−w, t],
  * 'both' = [t−w, t], 'left' = [t−w, t), 'neither' = (t−w, t). The window
  * END is the current row's position: earlier rows sharing its timestamp
  * are in, later ones out, and the open-at-t variants drop every row at
  * t. min_periods gates on non-missing values, except for `count`, which
  * gates on rows. Aggregates recompute over the window per row in arrival
  * order, the same O(n·W) class as pandas' variable-window kernels and
  * exact for order statistics; median/quantile interpolate linearly. */
final case class TimeWindow(windowMicros: Long, fn: String, minPeriods: Int,
                            closed: String, q: Double) {
  require(windowMicros > 0, s"window must be positive, got $windowMicros")
  require(Seq("mean", "sum", "min", "max", "std", "var", "count",
      "median", "quantile").contains(fn),
    s"fn must be mean|sum|min|max|std|var|count|median|quantile, got '$fn'")
  require(Seq("right", "both", "left", "neither").contains(closed),
    s"closed must be right|both|left|neither, got '$closed'")
  require(fn != "quantile" || (q >= 0 && q <= 1),
    s"quantile must be in [0, 1], got $q")
  private val includeLow = closed == "both" || closed == "left"
  private val excludeCur = closed == "left" || closed == "neither"
  private val qq = if (fn == "median") 0.5 else q

  /** Add the row (`t`, `v`; NaN = missing) and return the window's
    * aggregate, null when missing. Rows arrive in (time, position) order. */
  def push(s: TimeWindow.State, t: Long, v: Double): java.lang.Double = {
    s.append(t, v)
    val lowBound = t - windowMicros
    while (s.size > 0 &&
      (if (includeLow) s.ts(s.head) < lowBound
       else s.ts(s.head) <= lowBound)) {
      s.head += 1
      s.size -= 1
    }
    // rows at t are a suffix of the (time, position)-ordered window
    var m = s.size
    if (excludeCur) while (m > 0 && s.ts(s.head + m - 1) == t) m -= 1
    aggregate(s.vs, s.head, s.head + m)
  }

  /** The aggregate over `vs[from, until)`. */
  private def aggregate(vs: Array[Double], from: Int,
                        until: Int): java.lang.Double = {
    var nonNa = 0
    var sum = 0.0
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var i = from
    while (i < until) {
      val v = vs(i)
      if (!v.isNaN) {
        nonNa += 1
        sum += v
        if (v < mn) mn = v
        if (v > mx) mx = v
      }
      i += 1
    }
    val gate = if (fn == "count") until - from else nonNa
    if (gate < minPeriods) null
    else fn match {
      case "count" => nonNa.toDouble
      case "sum"   => sum
      case "mean"  => if (nonNa == 0) null else sum / nonNa
      case "min"   => if (nonNa == 0) null else mn
      case "max"   => if (nonNa == 0) null else mx
      case "std" | "var" =>
        if (nonNa < 2) null
        else {
          val mu = sum / nonNa
          var s2 = 0.0
          var j = from
          while (j < until) {
            if (!vs(j).isNaN) { val d = vs(j) - mu; s2 += d * d }
            j += 1
          }
          val vv = s2 / (nonNa - 1)
          if (fn == "std") math.sqrt(vv) else vv
        }
      case _ => // median | quantile
        if (nonNa == 0) null
        else {
          val arr = new Array[Double](nonNa)
          var j = from
          var p = 0
          while (j < until) {
            if (!vs(j).isNaN) { arr(p) = vs(j); p += 1 }
            j += 1
          }
          java.util.Arrays.sort(arr)
          val vi = qq * (nonNa - 1)
          val lo = math.floor(vi).toInt
          val g = vi - lo
          if (g == 0) arr(lo) else arr(lo) + g * (arr(lo + 1) - arr(lo))
        }
    }
  }
}

object TimeWindow {

  /** One group's in-window rows, oldest first, in the slots
    * [`head`, `head` + `size`) of `ts` (microseconds) and `vs` (NaN =
    * missing). A case class of arrays so a streaming state store keeps it
    * (as [[trimmed]]). */
  final case class State(var ts: Array[Long] = Array.emptyLongArray,
                         var vs: Array[Double] = Array.emptyDoubleArray,
                         var head: Int = 0, var size: Int = 0) {
    def append(t: Long, v: Double): Unit = {
      if (head + size == ts.length) { // no room at the back: move to slot 0
        val cap = math.max(8, 2 * size)
        ts = java.util.Arrays.copyOfRange(ts, head, head + cap)
        vs = java.util.Arrays.copyOfRange(vs, head, head + cap)
        head = 0
      }
      ts(head + size) = t
      vs(head + size) = v
      size += 1
    }

    /** The same rows in arrays of exactly `size` slots: what a state
      * store keeps, without the slack [[append]] leaves for growth. */
    def trimmed: State =
      State(java.util.Arrays.copyOfRange(ts, head, head + size),
        java.util.Arrays.copyOfRange(vs, head, head + size), 0, size)
  }
}
