package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution statistics over metric columns — exact quantiles,
  * robust dispersion and location, and fixed-width histograms.
  */
object Stats {
  /** Exact linear-interpolation percentile (Spark `percentile`). */
  def quantile(value: Column, p: Double): Column = percentile(value, lit(p))

  /** Median absolute deviation given a PRECOMPUTED per-group median
    * (compute the median over a per-group window first, then
    * aggregate): median(|x − med|) — the robust dispersion measure
    * outlier-heavy metric columns need where stddev is dominated by
    * the tail. Two quantile passes over one group shuffle.
    */
  def madFromMedian(x: Column, med: Column): Column =
    percentile(abs(x - med), lit(0.5))

  /** Winsorized mean: clamp into a precomputed [lo, hi] quantile band,
    * then average — outlier-robust location without dropping rows
    * (the trim-vs-clamp distinction: sample size is preserved). The
    * isNotNull gate matters: Spark's least/greatest SKIP null
    * arguments, so an unguarded clamp would silently turn every null
    * sample into `hi` instead of dropping it like every other
    * aggregate in this family does. The clamped values are summed as
    * DECIMAL(30,10) and divided by the non-null count, so the mean is
    * independent of the order rows are added in (the quote_stats
    * convention); null for a group with no values.
    */
  def winsorizedMean(x: Column, lo: Column, hi: Column): Column =
    safeDiv(sum(when(x.isNotNull, greatest(lo, least(hi, x)))
      .cast("decimal(30,10)")).cast("double"), count(x))

  /** Fixed-width histogram: bucket index per row (combine with
    * groupBy(key, bucket).count()).
    */
  def bucketOf(value: Column, width: Double): Column =
    floor(value / width).cast("long")

  /** Per-key histogram DataFrame: (key..., bucket, bucket_lo, n). */
  def histogram(df: DataFrame, keys: Seq[String], value: String,
                width: Double): DataFrame =
    df.withColumn("bucket", bucketOf(col(value), width))
      .groupBy((keys.map(col) :+ col("bucket")): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("bucket_lo", col("bucket") * width)
}
