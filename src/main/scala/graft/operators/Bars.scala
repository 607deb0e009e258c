package graft.operators

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

import graft.functions.Tick

/** Time-based OHLCV bar construction from tick data — the content of
  * the reference's declared-but-empty bars module (ffn_polars/expr/
  * tick/bars.py). One hash aggregation over (key, window): open/close
  * via min_by/max_by on the timestamp (deterministic under partial
  * aggregation), VWAP per bar. Scales as a single shuffle keyed by
  * (key, bar) with map-side combine.
  */
object Bars {
  /** Tumbling-window OHLCV bars, e.g. `timeBars(df, "ticker", "ts",
    * "price", "volume", "5 minutes")`.
    */
  def timeBars(df: DataFrame, key: String, ts: String, price: String,
               volume: String, barLength: String,
               tiebreak: Option[String] = None): DataFrame =
    ohlcv(df.groupBy(col(key), window(col(ts), barLength).as("w")),
        ts, price, volume, tiebreak)
      .select(col(key), col("w.start").as("bar_start"), col("open"),
        col("high"), col("low"), col("close"), col("volume"),
        col("vwap"), col("n_ticks"))

  /** Volume bars (the information-driven bar family of López de Prado
    * 2018 §2.3.1.2 — canonical extensions of the reference's empty
    * bars module): a bar closes each `threshold` units of traded
    * volume, so bars carry equal activity instead of equal time. Bar
    * id = floor(exclusive-prefix volume / threshold) — the crossing
    * tick CLOSES its bar. Volume must be integral (it rides in as
    * double): integer-valued prefix sums are exact doubles under ANY
    * summation order, so bar edges are engine- and
    * partitioning-reproducible. One per-key window + one (key, bar)
    * hash agg — two shuffles, both on the series key family.
    */
  def volumeBars(df: DataFrame, key: String, ts: String, price: String,
                 volume: String, threshold: Long,
                 tiebreak: Option[String] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(orderCols(ts, tiebreak): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    barsByBucket(df.withColumn("_bar",
        floor(coalesce(sum(col(volume)).over(w), lit(0.0)) / threshold)
          .cast("long")),
      key, ts, price, volume, tiebreak)
  }

  /** Dollar bars: a bar closes each `thresholdCents` of traded value.
    * Per-tick value quantizes to integer CENTS before the prefix sum
    * (floor(p·v·100 + 0.5)) — a float prefix sum's association varies
    * by engine/partitioning and a last-ulp drift at a bar edge would
    * move a tick across bars; integer cents make the cumsum exact.
    */
  def dollarBars(df: DataFrame, key: String, ts: String, price: String,
                 volume: String, thresholdCents: Long,
                 tiebreak: Option[String] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(orderCols(ts, tiebreak): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cents = floor(col(price) * col(volume) * 100 + 0.5).cast("long")
    barsByBucket(df.withColumn("_cents", cents)
        .withColumn("_bar",
          floor(coalesce(sum(col("_cents")).over(w), lit(0L))
            .cast("double") / thresholdCents).cast("long"))
        .drop("_cents"),
      key, ts, price, volume, tiebreak)
  }

  /** Open/close ordering key: (ts, tiebreak) when a tiebreak column is
    * given — REQUIRED for deterministic bar contents whenever a key can
    * carry duplicate timestamps (struct ordering is lexicographic on
    * both engines; the suite convention is (ts, event_id)).
    */
  private def ordKey(ts: String, tiebreak: Option[String]) =
    tiebreak.map(t => struct(col(ts), col(t))).getOrElse(col(ts))

  private def orderCols(ts: String, tiebreak: Option[String]) =
    col(ts) +: tiebreak.map(col).toSeq

  /** The OHLCV bar aggregation over grouped ticks: open/close by
    * min_by/max_by on the (ts, tiebreak) order, high, low, volume, the
    * exact-decimal [[graft.functions.Tick.vwap]] (identical across
    * retries, partitionings and engines; null for a zero-volume bar)
    * and the tick count.
    */
  private[graft] def ohlcv(bars: RelationalGroupedDataset, ts: String,
                           price: String, volume: String,
                           tiebreak: Option[String]): DataFrame =
    bars.agg(
      min_by(col(price), ordKey(ts, tiebreak)).as("open"),
      max(col(price)).as("high"),
      min(col(price)).as("low"),
      max_by(col(price), ordKey(ts, tiebreak)).as("close"),
      sum(col(volume)).as("volume"),
      Tick.vwap(col(price), col(volume)).as("vwap"),
      count(lit(1)).as("n_ticks"))

  /** Shared OHLCV aggregation over a precomputed `_bar` bucket. */
  private def barsByBucket(df: DataFrame, key: String, ts: String,
                           price: String, volume: String,
                           tiebreak: Option[String]): DataFrame =
    ohlcv(df.groupBy(col(key), col("_bar")), ts, price, volume, tiebreak)
      .withColumnRenamed("_bar", "bar")

  /** Tick bars: one bar per `every` ticks (reference-adjacent concept;
    * needs a per-key ordered index → window then aggregate).
    */
  def tickBars(df: DataFrame, key: String, ts: String, price: String,
               volume: String, every: Int,
               tiebreak: Option[String] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(orderCols(ts, tiebreak): _*)
    df.withColumn("_bar", ((row_number().over(w) - 1) / every).cast("long"))
      .groupBy(col(key), col("_bar"))
      .agg(
        min_by(col(price), ordKey(ts, tiebreak)).as("open"),
        max(col(price)).as("high"),
        min(col(price)).as("low"),
        max_by(col(price), ordKey(ts, tiebreak)).as("close"),
        sum(col(volume)).as("volume"),
        count(lit(1)).as("n_ticks"))
      .withColumnRenamed("_bar", "bar")
  }
}
