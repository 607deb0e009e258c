package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** EOD (end-of-day) portfolio analytics, re-expressed as Spark Column
  * algebra. Mirrors the semantics of ffn_polars/expr/eod/{returns,risk,
  * ratios,temporal}.py (reference repo), but is designed Spark-first:
  *
  *   - "series" ops take an ordered [[WindowSpec]] (partition = asset key,
  *     order = timestamp) and return a per-row Column — pure window
  *     functions, one shuffle per asset partitioning, codegen'd.
  *   - "aggregate" ops return aggregate Columns for `groupBy(key).agg(...)`
  *     — built-in aggregates only, so Spark does map-side partial
  *     aggregation and whole-stage codegen for free.
  *
  * No UDFs anywhere: every function composes `org.apache.spark.sql.functions`
  * so Catalyst can push down, prune, and codegen. At 100 TB the plan shape
  * is: shuffle by asset key once, then linear per-partition scans.
  *
  * Seconds per average year (365.25d) — reference temporal.py:163.
  */
object Eod {
  val SecondsPerYear: Double = 31557600.0
  val TradingDaysPerYear: Int = 252

  /** Cumulative (running) frame for an ordered window. */
  private def cum(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  // ---------------------------------------------------------------- series

  // Per-row divisions are guarded with safeDiv (null instead of ANSI
  // DIVIDE_BY_ZERO): one zero-priced bad tick in 100 TB must not abort
  // the whole job, and null matches DuckDB's x/0 → NULL semantics.

  /** Simple arithmetic returns: p/lag(p) - 1. Ref: eod/returns.py:14. */
  def toReturns(price: Column, w: WindowSpec): Column =
    safeDiv(price, lag(price, 1).over(w)) - 1

  /** Log returns: ln(p/lag(p)); null for non-positive ratios.
    * Ref: eod/returns.py:27.
    */
  def toLogReturns(price: Column, w: WindowSpec): Column =
    log(safeDiv(price, lag(price, 1).over(w)))

  /** Price index from arithmetic returns: cumprod(1+r)*start, nulls → 0.
    * cumprod is expressed as exp(cumsum(ln(1+r))) — valid because price
    * ratios are strictly positive. Ref: eod/returns.py:129.
    */
  def toPriceIndex(ret: Column, w: WindowSpec, start: Double = 100.0): Column = {
    // ret <= -1 (total loss) → cumprod hits 0 and stays there, like the
    // reference's cumprod: ln(0) = -inf poisons every later cumsum, so
    // exp() yields 0 from that row on (Spark's ln would yield null and
    // silently *drop* the loss from the sum).
    val growth = coalesce(ret, lit(0.0)) + 1
    val lnG = when(growth > 0, log(growth)).otherwise(lit(Double.NegativeInfinity))
    exp(sum(lnG).over(cum(w))) * start
  }

  /** Rebase prices to a starting value: p/first(p)*value. Ref: returns.py:143. */
  def rebase(price: Column, w: WindowSpec, value: Double = 100.0): Column =
    safeDiv(price, first(price).over(cum(w))) * value

  /** Excess returns over a constant annualized risk-free rate, deannualized
    * to n periods: r - ((1+rf)^(1/n) - 1). Ref: eod/returns.py:110.
    */
  def toExcessReturns(ret: Column, rf: Double, n: Int): Column =
    if (rf == 0.0) ret else ret - (math.pow(1.0 + rf, 1.0 / n) - 1.0)

  /** Excess returns over a risk-free-rate column. Ref: eod/returns.py:110. */
  def toExcessReturns(ret: Column, rf: Column): Column = ret - rf

  /** Drawdown series: ffill(p)/cummax(ffill(p)) - 1. Ref: eod/risk.py:64. */
  def toDrawdownSeries(price: Column, w: WindowSpec): Column = {
    val filled = last(price, ignoreNulls = true).over(cum(w))
    safeDiv(filled, max(filled).over(cum(w))) - 1
  }

  /** Trailing-n-row frame over an ordered window (rolling metrics). */
  def trailing(w: WindowSpec, n: Int): WindowSpec =
    w.rowsBetween(-(n - 1), Window.currentRow)

  /** Rolling mean return over the trailing n rows. */
  def rollingMean(ret: Column, w: WindowSpec, n: Int): Column =
    avg(ret).over(trailing(w, n))

  /** Rolling (sample) volatility over the trailing n rows. */
  def rollingVolatility(ret: Column, w: WindowSpec, n: Int): Column =
    stddev_samp(ret).over(trailing(w, n))

  /** Rolling Sharpe over the trailing n rows (annualized by `periods`).
    * Partial leading frames produce partial-sample values, like a
    * DataFrame-native rolling aggregate.
    */
  def rollingSharpe(ret: Column, w: WindowSpec, n: Int,
                    periods: Int = TradingDaysPerYear): Column =
    safeDiv(rollingMean(ret, w, n), rollingVolatility(ret, w, n)) *
      math.sqrt(periods.toDouble)

  /** Rolling downside deviation over the trailing n rows: RMS of the
    * loss part, sqrt(mean(min(r,0)²)) — Sortino's denominator
    * (ref ratios.py:23 uses the same loss-only std over the full
    * series). Explicit x*x (not pow) so the kernel never depends on
    * the pow² rewrite rule being registered.
    */
  def rollingDownsideDev(ret: Column, w: WindowSpec, n: Int): Column = {
    // least() SKIPS nulls on both engines (least(null, 0) = 0), which
    // would count a null return as a zero loss — mask explicitly so a
    // null contributes nothing, like every other aggregate here.
    val loss = when(ret.isNotNull, least(ret, lit(0.0)))
    sqrt(avg(loss * loss).over(trailing(w, n)))
  }

  /** Rolling Sortino over the trailing n rows (annualized by
    * `periods`); null when the frame has no losses — the omega/sortino
    * loss-free convention, and an ANSI divide guard.
    */
  def rollingSortino(ret: Column, w: WindowSpec, n: Int,
                     periods: Int = TradingDaysPerYear): Column =
    safeDiv(rollingMean(ret, w, n), rollingDownsideDev(ret, w, n)) *
      math.sqrt(periods.toDouble)

  /** Convert annualized returns to periodic: (1+r)^(1/n)-1. Ref: temporal.py:13. */
  def deannualize(ret: Column, n: Int): Column =
    pow(ret + 1.0, 1.0 / n) - 1.0

  /** Annualize returns given holding durations: (1+r)^(oneYear/dur)-1.
    * Ref: eod/temporal.py:28.
    */
  def annualize(ret: Column, durations: Column, oneYear: Double = 365.0): Column =
    pow(ret + 1.0, safeDiv(lit(oneYear), durations)) - 1.0

  // ------------------------------------------------------------- aggregates
  // Order-sensitive aggregates (first/last of a series) are written with
  // min_by/max_by over an explicit order column — deterministic under
  // Spark's unordered partial aggregation, unlike first()/last() in agg.

  /** Total return: last/first - 1 (order given by `ord`). Ref: returns.py:155. */
  def totalReturn(price: Column, ord: Column): Column =
    safeDiv(max_by(price, ord), min_by(price, ord)) - 1

  /** Year fraction spanned by a timestamp column: (last-first)/avg-year.
    * Microsecond-exact: uses unix_micros. Ref: eod/temporal.py:156.
    */
  def yearFrac(ts: Column): Column =
    (Tick.epochUs(max(ts)) - Tick.epochUs(min(ts))) / lit(1e6 * SecondsPerYear)

  /** CAGR: (last/first)^(1/yearFrac) - 1. Ref: eod/returns.py:96. */
  def cagr(price: Column, ts: Column): Column =
    pow(safeDiv(max_by(price, ts), min_by(price, ts)),
      safeDiv(lit(1.0), yearFrac(ts))) - 1

  /** Sharpe ratio: mean(excess)/stddev_samp(excess) [* sqrt(n)].
    * Ref: eod/ratios.py:69.
    */
  def sharpe(ret: Column, rf: Double = 0.0, n: Int = TradingDaysPerYear,
             annualizeFlag: Boolean = true): Column = {
    val excess = toExcessReturns(ret, rf, n)
    val s = safeDiv(avg(excess), stddev_samp(excess))
    if (annualizeFlag) s * math.sqrt(n.toDouble) else s
  }

  /** Risk/return ratio = Sharpe with rf=0. Ref: eod/ratios.py:92. */
  def riskReturnRatio(ret: Column): Column = sharpe(ret)

  /** Sortino: mean(excess)/stddev_samp(min(excess,0)) [* sqrt(n)].
    * Ref: eod/ratios.py:23.
    */
  def sortino(ret: Column, rf: Double = 0.0, n: Int = TradingDaysPerYear,
              annualizeFlag: Boolean = true): Column = {
    val excess = ret - lit(rf / n)
    val downside = least(excess, lit(0.0))
    val dstd = stddev_samp(downside)
    val base = when(dstd.isNotNull && dstd =!= 0.0, avg(excess) / dstd)
    if (annualizeFlag) base * math.sqrt(n.toDouble) else base
  }

  /** Information ratio: mean(a-b)/stddev_samp(a-b), NaN/null → 0.
    * Ref: eod/ratios.py:104.
    */
  def informationRatio(ret: Column, benchmark: Column): Column = {
    val d = ret - benchmark
    coalesce(nanvl(safeDiv(avg(d), stddev_samp(d)), lit(0.0)), lit(0.0))
  }

  /** Ulcer index over a precomputed drawdown series:
    * sqrt(mean((100*dd)^2)). Ref: eod/risk.py:13 (dd from cummax of price).
    */
  def ulcerIndexFromDrawdown(dd: Column): Column =
    sqrt(avg(pow(dd * 100.0, lit(2.0))))

  /** Ulcer performance index: mean(excess returns)/ulcer. Ref: risk.py:32. */
  def ulcerPerformanceIndex(ret: Column, dd: Column, rf: Double = 0.0,
                            n: Int = TradingDaysPerYear): Column =
    safeDiv(avg(ret - lit(if (rf == 0.0) 0.0 else rf / n)),
      ulcerIndexFromDrawdown(dd))

  /** UPI with a per-row risk-free COLUMN (reference risk.py:32 accepts
    * rf as a column name: excess = ret - rf row-wise).
    */
  def ulcerPerformanceIndex(ret: Column, dd: Column, rf: Column): Column =
    safeDiv(avg(ret - rf), ulcerIndexFromDrawdown(dd))

  /** Max drawdown = min of the drawdown series. Ref: eod/risk.py:90. */
  def maxDrawdownFromDrawdown(dd: Column): Column = min(dd)

  /** Calmar ratio: CAGR / |max drawdown|. Ref: eod/ratios.py:49. */
  def calmar(price: Column, ts: Column, dd: Column): Column =
    safeDiv(cagr(price, ts), abs(min(dd)))

  /** Month-to-date return. `maxTs` = per-group max(ts) (precompute with a
    * window). Reference price = last price strictly before the latest
    * month. Ref: eod/returns.py:41.
    */
  def mtd(price: Column, ts: Column, maxTs: Column): Column = {
    val prevMonth = month(ts) =!= month(maxTs) || year(ts) =!= year(maxTs)
    val ref = max_by(when(prevMonth, price), when(prevMonth, ts))
    safeDiv(max_by(price, ts), ref) - 1
  }

  /** Year-to-date return: last / first-of-latest-year - 1.
    * Ref: eod/returns.py:70.
    */
  def ytd(price: Column, ts: Column, maxTs: Column): Column = {
    val inYear = year(ts) === year(maxTs)
    val firstOfYear = min_by(when(inYear, price), when(inYear, ts))
    safeDiv(max_by(when(inYear, price), when(inYear, ts)), firstOfYear) - 1
  }

  /** Periods/year inferred from the mode of timestamp deltas (seconds);
    * null when deltas are irregular (std > 1e-3 s). `deltaSec` = per-row
    * delta seconds (precompute: (unix_micros(ts)-lag)/1e6 over window).
    * Ref: eod/temporal.py:46.
    */
  def inferNperiods(deltaSec: Column, af: Int = TradingDaysPerYear): Column = {
    val valid = when(deltaSec > 1e-9 && !isnan(deltaSec), deltaSec)
    val dt = mode(valid)
    val ok = stddev_samp(valid) <= 1e-3
    val day = 86400.0
    when(ok,
      when(abs(dt - 365 * day) <= day, 1)
        .when(abs(dt - 91 * day) <= 3 * day, 4)
        .when(abs(dt - 30 * day) <= 3 * day, 12)
        .when(abs(dt - 7 * day) <= 60, 52)
        .when(abs(dt - day) <= 10, af)
        .when(abs(dt - 3600) <= 5, af * 24)
        .when(abs(dt - 60) <= 1, af * 24 * 60)
        .when(abs(dt - 1) <= 0.1, af * 24 * 3600)
        .when(dt > 0, round(lit(af.toDouble * 24 * 3600) / dt))
    ).cast("long")
  }

  /** Historical Value-at-Risk: the α-quantile of the return
    * distribution (exact, linearly interpolated — the same R-7 rule as
    * DuckDB's quantile_cont / numpy's default). Aggregate or window
    * Column; VaR is conventionally reported as the loss quantile, so
    * alpha = 0.05 gives the 95% VaR (a negative return).
    *
    * Beyond the reference surface (ffn proper ships VaR/CVaR in
    * calc_stats; ffn-polars does not) — added for parity with what a
    * portfolio-analytics user expects next.
    */
  def valueAtRisk(ret: Column, alpha: Double = 0.05): Column =
    percentile(ret, lit(alpha))

  /** Conditional VaR (expected shortfall): mean return at or below a
    * precomputed VaR cut (compute [[valueAtRisk]] over a per-asset
    * window first, then aggregate — two window/agg passes, no
    * re-scan). Aggregate Column.
    */
  def cvarGivenVar(ret: Column, varCut: Column): Column =
    avg(when(ret <= varCut, ret))

  /** Tail ratio |Q(p)| / |Q(1−p)| of the return distribution (p = 0.95
    * by convention): right-tail magnitude over left-tail magnitude —
    * > 1 means the upside tail outweighs the downside. Same R-7
    * interpolated quantiles as [[valueAtRisk]]. Aggregate Column.
    *
    * Beyond the reference surface (the calc_stats neighborhood ffn
    * users reach for next, like VaR/CVaR above).
    */
  def tailRatio(ret: Column, p: Double = 0.95): Column =
    safeDiv(abs(percentile(ret, lit(p))), abs(percentile(ret, lit(1 - p))))

  /** Gain-to-pain ratio (Schwager): Σ positive returns / |Σ negative
    * returns|, over returns PRE-QUANTIZED to 1e-6 longs (`q`) — the
    * two sums are then integer, addition-order free, and replay
    * bit-exact on any engine (the variance-ratio convention); the
    * grid cancels in the ratio. Aggregate Column over `q`; null when
    * there are no losses.
    */
  def gainToPain(q: Column): Column =
    safeDiv(sum(when(q > 0, q).otherwise(lit(0L))).cast("double"),
      -sum(when(q < 0, q).otherwise(lit(0L))).cast("double"))

  /** Omega ratio at a periodic threshold L: Σ max(r−L, 0) / Σ max(L−r, 0)
    * — probability-weighted gains over losses around L (Keating &
    * Shadwick 2002). Aggregate Column; null when there are no losses.
    */
  def omegaRatio(ret: Column, threshold: Double = 0.0): Column =
    safeDiv(sum(greatest(ret - threshold, lit(0.0))),
      sum(greatest(lit(threshold) - ret, lit(0.0))))

  /** Population skewness g1 = m3 / m2^1.5 from PRE-CENTERED deviations
    * (d = r − mean(r) over the asset window). Two-pass centering keeps
    * the moment sums catastrophic-cancellation-free — the raw-moment
    * identity avg(r³)−3μavg(r²)+2μ³ loses most of its bits when μ
    * dominates the central moments, which is exactly the shape of
    * return series. Aggregate Column over `d`.
    */
  def skewnessFromDev(d: Column): Column =
    safeDiv(avg(pow(d, lit(3.0))), pow(avg(pow(d, lit(2.0))), lit(1.5)))

  /** Excess kurtosis g2 = m4 / m2² − 3 from pre-centered deviations
    * (see [[skewnessFromDev]]). Aggregate Column over `d`.
    */
  def excessKurtosisFromDev(d: Column): Column =
    safeDiv(avg(pow(d, lit(4.0))), pow(avg(pow(d, lit(2.0))), lit(2.0))) - 3.0

  /** RiskMetrics EWMA volatility over the trailing n non-null returns:
    * σ_t = sqrt( Σ_{j<k} λ^j·r²_{t−j} · (1−λ)/(1−λ^k) ), k = rows in
    * frame (the truncated-series weights renormalized to sum to 1).
    * Per-row series Column over an ordered per-asset window.
    *
    * Spark shape: collect_list over the trailing frame (≤ n doubles —
    * bounded, executor-local) then ONE codegen'd fold over the array
    * (expressions/EwmaVol — the interpreted reverse/zip_with/aggregate
    * HOF chain it replaces was the suite's slowest per-row kernel);
    * the frame walk is the same one shuffle as every other rolling
    * metric. Feed it null-free returns: collect_list drops nulls,
    * which would silently shift the weight ladder.
    */
  def ewmaVolatility(ret: Column, w: WindowSpec, n: Int,
                     lambda: Double = 0.94): Column =
    graft.expressions.EwmaVol(collect_list(ret).over(trailing(w, n)), lambda)

  /** GARCH(1,1) filtered conditional volatility from the trailing n
    * returns ENDING AT t−1 (the forecast for t uses information
    * through t−1 only — frame rowsBetween(−n, −1)), k-truncated
    * closed form with pinned (ω, α, β); see
    * [[graft.expressions.GarchVol]] for the truncation argument.
    * Same collect_list + native-fold shape as [[ewmaVolatility]].
    * Null/empty frames (the series' first row) yield σ = √(ω·0/…) —
    * callers should drop rows with no prior return.
    */
  def garchVolatility(ret: Column, w: WindowSpec, n: Int,
                      omega: Double, alpha: Double, beta: Double): Column =
    graft.expressions.GarchVol(
      collect_list(ret).over(w.rowsBetween(-n, -1)), omega, alpha, beta)

  /** Holt linear-trend (double exponential) smoothing expressed as a
    * FIXED-WINDOW LINEAR FILTER: the recursion l_t = αx_t +
    * (1−α)(l_{t−1}+b_{t−1}), b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} with
    * init (l₁ = x₁, b₁ = 0) is linear in the window's observations, so
    * over a fixed m-row trailing window the level and trend are dot
    * products with weight vectors computed ONCE here by running the
    * recursion on unit impulses. The weights are deterministic driver
    * doubles — inlined as round-trip literals into BOTH the Spark plan
    * and the DuckDB oracle (the scalar-constant convention), which is
    * what makes a coupled two-state recursion — with no geometric
    * closed form — replay exactly on any engine. Returns (levelWeights,
    * trendWeights), each of length m, oldest observation first.
    */
  def holtWeights(m: Int, alpha: Double, beta: Double)
      : (Array[Double], Array[Double]) = {
    var l = Array.tabulate(m)(j => if (j == 0) 1.0 else 0.0)
    var b = Array.fill(m)(0.0)
    for (t <- 2 to m) {
      val nl = Array.tabulate(m) { j =>
        alpha * (if (j == t - 1) 1.0 else 0.0) + (1 - alpha) * (l(j) + b(j))
      }
      val nb = Array.tabulate(m)(j => beta * (nl(j) - l(j)) + (1 - beta) * b(j))
      l = nl; b = nb
    }
    (l, b)
  }

  /** Holt–Winters ADDITIVE-SEASONAL weights — [[holtWeights]] extended
    * with a period-s seasonal state: l_t = α(x_t − s_{slot}) +
    * (1−α)(l+b); b_t = β(l_t−l_{t−1}) + (1−β)b; s_slot = γ(x_t−l_t) +
    * (1−γ)s_slot, slot(t) = (t−1) mod s, seasonal states init 0,
    * (l₁ = x₁, b₁ = 0). Returns (level, trend, seasonal-at-final-slot)
    * weight vectors; a horizon that is a multiple of s forecasts with
    * exactly that final slot (ŷ_{m+s} = l + s·b + s_final). Same
    * round-trip-literal / linear-filter contract as [[holtWeights]].
    */
  def holtWintersWeights(m: Int, s: Int, alpha: Double, beta: Double,
                         gamma: Double)
      : (Array[Double], Array[Double], Array[Double]) = {
    def e(j: Int) = Array.tabulate(m)(i => if (i == j) 1.0 else 0.0)
    var l = e(0)
    var b = Array.fill(m)(0.0)
    val sea = Array.fill(s)(Array.fill(m)(0.0))
    for (t <- 2 to m) {
      val slot = (t - 1) % s
      val sOld = sea(slot)
      val prevL = l
      val nl = Array.tabulate(m)(j =>
        alpha * (e(t - 1)(j) - sOld(j)) + (1 - alpha) * (l(j) + b(j)))
      val nb = Array.tabulate(m)(j =>
        beta * (nl(j) - prevL(j)) + (1 - beta) * b(j))
      sea(slot) = Array.tabulate(m)(j =>
        gamma * (e(t - 1)(j) - nl(j)) + (1 - gamma) * sOld(j))
      l = nl; b = nb
    }
    (l, b, sea((m - 1) % s))
  }

  /** Local-level Kalman filter weights — the state-space member of the
    * [[holtWeights]] linear-filter family: for the random-walk +
    * noise model (state var q, measurement var r; init l₁ = x₁,
    * p₁ = r), the gain sequence K_t follows the deterministic Riccati
    * recursion p⁻ = p + q, K = p⁻/(p⁻ + r), p = (1−K)p⁻ — it depends
    * only on t, so the filtered level over a fixed m-window is a dot
    * product with weights w_j = K_j·Π_{i>j}(1−K_i) computed ONCE here.
    * Returns (levelWeights, prevLevelWeights) — the latter is the
    * (m−1)-step level padded with a zero last slot, so the one-step
    * innovation x_m − l_{m−1} is a second dot over the same array.
    */
  def kalmanWeights(m: Int, q: Double, r: Double)
      : (Array[Double], Array[Double]) = {
    def step(upto: Int): Array[Double] = {
      var l = Array.tabulate(m)(j => if (j == 0) 1.0 else 0.0)
      var p = r
      for (t <- 2 to upto) {
        val pPrior = p + q
        val k = pPrior / (pPrior + r)
        l = Array.tabulate(m)(j =>
          l(j) * (1.0 - k) + (if (j == t - 1) k else 0.0))
        p = (1.0 - k) * pPrior
      }
      l
    }
    (step(m), step(m - 1))
  }

  /** Rolling OLS beta of `ret` on `benchmark` over the trailing n rows:
    * covar_samp / var_samp on the frame. Null until the frame has ≥2
    * paired rows (sample moments undefined), null on a flat benchmark
    * window. Feed it rows where both series are non-null — the sample
    * counts of cov and var diverge otherwise and the ratio is not a
    * beta.
    *
    * SCALE NOTE: sliding-frame aggregates re-aggregate the whole frame
    * per row in WindowExec (O(n) per row). For long frames or hot
    * paths, prefer the prefix-sum-difference formulation the
    * `eod_rolling_beta` query uses (cumulative Σx/Σy/Σxy/Σy² +
    * lag(cum, n) — O(1) per row, measured 5× faster at n=60).
    */
  def rollingBeta(ret: Column, benchmark: Column, w: WindowSpec,
                  n: Int): Column =
    safeDiv(covar_samp(ret, benchmark).over(trailing(w, n)),
      var_samp(benchmark).over(trailing(w, n)))

  /** Rolling Pearson correlation over the trailing n rows — the
    * diagnostic twin of [[rollingBeta]] (same frame, scale-free).
    * Null until ≥2 paired rows / on a flat window.
    */
  def rollingCorr(ret: Column, benchmark: Column, w: WindowSpec,
                  n: Int): Column =
    corr(ret, benchmark).over(trailing(w, n))

  /** Rolling arithmetic up-capture over the trailing n rows: the
    * windowed twin of [[upCapture]] — avg(ret | bench>0 in frame) /
    * avg(bench | bench>0 in frame). Null while the frame holds no
    * rising-benchmark row. Same paired-rows contract as
    * [[rollingBeta]].
    */
  def rollingUpCapture(ret: Column, benchmark: Column, w: WindowSpec,
                       n: Int): Column =
    safeDiv(avg(when(benchmark > 0, ret)).over(trailing(w, n)),
      avg(when(benchmark > 0, benchmark)).over(trailing(w, n)))

  /** Rolling arithmetic down-capture — the falling-period twin of
    * [[rollingUpCapture]].
    */
  def rollingDownCapture(ret: Column, benchmark: Column, w: WindowSpec,
                         n: Int): Column =
    safeDiv(avg(when(benchmark < 0, ret)).over(trailing(w, n)),
      avg(when(benchmark < 0, benchmark)).over(trailing(w, n)))

  /** Rolling win rate: share of positive returns in the trailing n
    * rows ([[winRate]] windowed).
    */
  def rollingWinRate(ret: Column, w: WindowSpec, n: Int): Column =
    avg(when(ret > 0, 1.0).otherwise(0.0)).over(trailing(w, n))

  // ------------------------------------------- benchmark-relative (full)

  // Full-sample CAPM family: aggregate Columns over PAIRED rows (ret,
  // benchmark) — feed rows where both are non-null, as with
  // [[rollingBeta]] (diverging sample counts would unalign the
  // moments). One hash agg per query, map-side combinable.

  /** Full-sample OLS beta of `ret` on `benchmark`:
    * covar_samp / var_samp. Null on <2 rows or a flat benchmark.
    */
  def capmBeta(ret: Column, benchmark: Column): Column =
    safeDiv(covar_samp(ret, benchmark), var_samp(benchmark))

  /** Per-period CAPM alpha = mean(ret) − beta·mean(benchmark); multiply
    * by periods/year for the annualized Jensen's alpha.
    */
  def capmAlpha(ret: Column, benchmark: Column): Column =
    avg(ret) - capmBeta(ret, benchmark) * avg(benchmark)

  /** R² of the one-factor regression = corr(ret, benchmark)². */
  def capmR2(ret: Column, benchmark: Column): Column =
    pow(corr(ret, benchmark), lit(2.0))

  /** Annualized tracking error = stddev_samp(ret − benchmark)·√nperiods. */
  def trackingError(ret: Column, benchmark: Column,
                    nperiods: Int = TradingDaysPerYear): Column =
    stddev_samp(ret - benchmark) * math.sqrt(nperiods.toDouble)

  /** Arithmetic up-capture: avg(ret | benchmark>0) / avg(benchmark |
    * benchmark>0) — the mean-based capture ratio (the compounded
    * variant is FP-order-sensitive; the arithmetic form is exact under
    * any aggregation order). Null when the benchmark never rose.
    */
  def upCapture(ret: Column, benchmark: Column): Column =
    safeDiv(avg(when(benchmark > 0, ret)), avg(when(benchmark > 0, benchmark)))

  /** Arithmetic down-capture, the falling-period twin of [[upCapture]]. */
  def downCapture(ret: Column, benchmark: Column): Column =
    safeDiv(avg(when(benchmark < 0, ret)), avg(when(benchmark < 0, benchmark)))

  /** Win rate: fraction of periods with a strictly positive return. */
  def winRate(ret: Column): Column =
    avg(when(ret > 0, 1.0).otherwise(0.0))

  /** Human-readable frequency label from the mode of deltas in days;
    * "unknown" when irregular (std > 1 day). Ref: eod/temporal.py:98.
    */
  def inferFreq(deltaDays: Column): Column = {
    val d = mode(deltaDays)
    val irregular = stddev_samp(deltaDays).isNull || stddev_samp(deltaDays) > 1.0
    when(irregular, "unknown")
      .when(abs(d - 365.25) < 5, "yearly")
      .when(abs(d - 91) <= 3, "quarterly")
      .when(abs(d - 30) <= 3, "monthly")
      .when(abs(d - 7) <= 1, "weekly")
      .when(abs(d - 1) <= 0.1, "daily")
      .otherwise("unknown")
  }

  /** Calendar resampling (ffn `to_period`/`resample` lineage,
    * eod/temporal.py neighborhood — generalizes the return-table op):
    * compact a (series, ts, value) relation to period-end values at
    * any `date_trunc` grain ("week", "month", "quarter", "year", …)
    * and emit the period-over-period return per series. ONE hash agg
    * (map-side combinable max_by on the per-series timestamp) + one
    * lag over the MUCH smaller bucketed relation — the window
    * partitions per series, never single-partition, and at 100 TB the
    * agg is the only pass over the raw ticks. Callers needing OHLC at
    * the grain use the bars family instead.
    */
  def resampleToPeriod(df: org.apache.spark.sql.DataFrame, seriesCol: String,
                       tsCol: String, valueCol: String,
                       grain: String): org.apache.spark.sql.DataFrame = {
    val m = df
      .groupBy(col(seriesCol), date_trunc(grain, col(tsCol)).as("period"))
      .agg(max_by(col(valueCol), col(tsCol)).as("eop"))
    val w = Window.partitionBy(col(seriesCol)).orderBy(col("period"))
    m.withColumn("period_ret", col("eop") / lag(col("eop"), 1).over(w) - 1)
  }
}
