package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** Tick-data microstructure metrics, re-expressed as Spark Column algebra.
  * Mirrors ffn_polars/expr/tick/{activity,flow,direction,price,
  * volatility}.py (reference repo).
  *
  * Aggregate forms are meant for `df.groupBy(ticker).agg(...)` — every
  * metric is built from built-in aggregates, so Spark performs map-side
  * partial aggregation; at 100 TB this is one shuffle keyed by ticker with
  * combiners, never a sort. Series forms (tickRule, microReturns) are
  * window functions over `partitionBy(ticker).orderBy(ts)`.
  *
  * Timestamps are treated at microsecond precision (Spark's native
  * TimestampType resolution); nanosecond scales follow the reference's
  * SCALE map (tick/utils.py) converted to a ns-per-unit factor.
  */
object Tick {
  /** ns per unit, mirroring reference tick/utils.py SCALE. */
  val Scale: Map[String, Double] =
    Map("s" -> 1e9, "ms" -> 1e6, "us" -> 1e3, "ns" -> 1.0)

  /** NTZ-tolerant epoch extraction: `unix_micros` rejects
    * TIMESTAMP_NTZ, so coerce through TimestampType — but ONLY for
    * NTZ (resolved per the analyzed input type, see
    * [[graft.expressions.EpochUs]]): a blanket cast would silently
    * read a legacy Long-ns column as SECONDS. Under the library's
    * pinned UTC session TZ the NTZ cast is value-exact; any
    * non-timestamp input still fails analysis loudly.
    */
  def epochUs(ts: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expressions.EpochUs(
        org.apache.spark.sql.GraftSqlBridge.expression(ts)))

  private def nanos(ts: Column): Column = epochUs(ts) * 1000L

  /** Trades per time unit: n / ((last ts - first ts)/scale).
    * Ref: tick/activity.py:11 (first/last of the ordered series = min/max,
    * timestamps ascending).
    */
  def tradeRate(ts: Column, per: String = "ms"): Column =
    safeDiv(count(lit(1)).cast("double"),
      (nanos(max(ts)) - nanos(min(ts))) / Scale(per))

  /** Mean inter-trade time in `per` units. `deltaNs` = per-row timestamp
    * delta in ns (precompute via lag over a window). Ref: activity.py:35.
    */
  def interTradeTime(deltaNs: Column, per: String = "s"): Column =
    avg(deltaNs) / Scale(per)

  /** Burstiness: std(inter-trade time)/mean(inter-trade time).
    * Scale-free. Ref: tick/activity.py:61.
    */
  def burstiness(deltaNs: Column): Column =
    safeDiv(stddev_samp(deltaNs), avg(deltaNs))

  /** Per-row timestamp delta in ns for an ordered window (helper for
    * interTradeTime/burstiness).
    */
  def tsDeltaNs(ts: Column, w: WindowSpec): Column =
    nanos(ts) - lag(nanos(ts), 1).over(w)

  /** Volume per time unit: sum(v) / ((max ts - min ts)/scale).
    * Ref: tick/flow.py:13.
    */
  def volumeRate(volume: Column, ts: Column, per: String = "s"): Column =
    safeDiv(sum(volume).cast("double"),
      (nanos(max(ts)) - nanos(min(ts))) / Scale(per))

  /** Order-flow imbalance: sum of signed volume. Ref: tick/flow.py:42. */
  def orderFlowImbalance(signedVolume: Column): Column =
    sum(signedVolume).cast("double")

  /** Traded (dollar) value: sum(price*volume). Each p·v is summed as
    * DECIMAL(30,10), so the total is exact and independent of the
    * order rows are added in (retries, partitionings and engines agree).
    * Ref: tick/flow.py:65.
    */
  def tradedValue(price: Column, volume: Column): Column =
    sum((price * volume).cast("decimal(30,10)")).cast("double")

  /** Volume-weighted average price: [[tradedValue]] / sum(volume), both
    * exact DECIMAL(30,10) sums; null for a zero-volume group.
    * Ref: tick/flow.py:88.
    */
  def vwap(price: Column, volume: Column): Column =
    safeDiv(tradedValue(price, volume),
      sum(volume.cast("decimal(30,10)")).cast("double"))

  /** Tick rule: +1 up-tick, -1 down-tick, 0 otherwise (incl. first row).
    * Ref: tick/direction.py:11.
    */
  def tickRule(price: Column, w: WindowSpec): Column = {
    val prev = lag(price, 1).over(w)
    when(price > prev, 1).when(price < prev, -1).otherwise(0)
  }

  /** Volume signed by the tick rule. Ref: tick/direction.py:30. */
  def signVolumeByTickRule(volume: Column, price: Column, w: WindowSpec): Column =
    volume.cast("double") * tickRule(price, w)

  /** Tick imbalance: sum(direction)/n, in [-1, 1]. Ref: direction.py:45. */
  def tickImbalance(direction: Column): Column =
    sum(direction).cast("double") / count(lit(1)).cast("double")

  /** Tick-level log returns: ln(p) - ln(lag(p)). Ref: tick/price.py:11. */
  def microReturns(price: Column, w: WindowSpec): Column =
    log(price) - lag(log(price), 1).over(w)

  /** Coefficient of variation: std(p)/mean(p). Ref: tick/price.py:25. */
  def priceVolatilityRatio(price: Column): Column =
    safeDiv(stddev_samp(price), avg(price))

  /** Absolute price impact: (last p - first p)/sum(v), order by `ord`.
    * Ref: tick/price.py:40.
    */
  def priceImpact(price: Column, volume: Column, ord: Column): Column =
    safeDiv(max_by(price, ord) - min_by(price, ord), sum(volume).cast("double"))

  /** Realized volatility: sqrt(sum(logret^2)) over a precomputed
    * tick-level log-return column. Ref: tick/volatility.py:10.
    */
  def realizedVolatility(logRet: Column): Column =
    sqrt(sum(pow(logRet, lit(2.0))))

  /** Kyle's lambda (Kyle 1985): the OLS slope of price change on
    * signed volume, cov(Δp, sv)/var(sv) — the canonical price-impact
    * coefficient, the regression twin of the ratio-form
    * [[priceImpact]]. Aggregate over precomputed per-row Δp and
    * signed volume; null on a flat-flow group (var 0). Beyond the
    * reference surface.
    */
  def kyleLambda(dp: Column, sv: Column): Column =
    safeDiv(covar_samp(dp, sv), var_samp(sv))

  /** Roll (1984) implied effective spread: 2·√(−cov(Δp_t, Δp_{t−1})) —
    * bid-ask bounce makes adjacent price changes negatively serially
    * covariant, and the magnitude recovers the spread without any
    * quote data. Aggregate over precomputed Δp and its lag; null when
    * the serial covariance is non-negative (no bounce signal — the
    * estimator is undefined there, not zero). Beyond the reference
    * surface, the classic next ask after [[kyleLambda]].
    */
  def rollSpread(dp: Column, dpLag: Column): Column = {
    val c = covar_samp(dp, dpLag)
    when(c < 0, lit(2.0) * sqrt(-c))
  }

  /** Amihud (2002) illiquidity: mean |return| per unit of traded
    * dollar value, scaled ×10⁶ for readable magnitudes — the standard
    * price-impact-per-dollar proxy when order-flow signs are
    * unavailable. Aggregate over per-row return and dollar volume;
    * zero-dollar rows (a crossed/zero print) are SKIPPED, not divided
    * by — the lazy-guard rule of [[graft.functions.safeDiv]] applied
    * per row: one degenerate print must not ANSI-abort a
    * 1000-executor job.
    */
  def amihudIlliquidity(ret: Column, dollarVolume: Column): Column =
    avg(when(dollarVolume > 0, abs(ret) / dollarVolume * 1e6))
}
