package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Eod

/** Hand-computed oracles for the EOD analytics, mirroring the behavior
  * the reference tests pin down (tests/expr/test_returns.py etc.). */
class EodSpec extends SparkSpec {
  import spark.implicits._

  private val w = Window.partitionBy($"k").orderBy($"t")

  private def series(prices: Double*) =
    prices.zipWithIndex.map { case (p, i) => ("a", i, p) }.toDF("k", "t", "p")

  test("toReturns: p/lag - 1") {
    val out = series(100.0, 110.0, 99.0)
      .select(Eod.toReturns($"p", w).as("r")).orderBy($"r".asc_nulls_first)
      .as[Option[Double]].collect()
    assert(out(0).isEmpty)
    assert(math.abs(out(1).get - (99.0 / 110.0 - 1)) < 1e-12)
    assert(math.abs(out(2).get - 0.1) < 1e-12)
  }

  test("drawdown series and max drawdown") {
    val df = series(100.0, 120.0, 90.0, 105.0)
      .withColumn("dd", Eod.toDrawdownSeries($"p", w))
    val dd = df.orderBy($"t").select($"dd").as[Double].collect()
    assert(dd(0) == 0.0 && dd(1) == 0.0)
    assert(math.abs(dd(2) - (90.0 / 120.0 - 1)) < 1e-12)
    assert(math.abs(dd(3) - (105.0 / 120.0 - 1)) < 1e-12)
    val mdd = df.groupBy($"k").agg(Eod.maxDrawdownFromDrawdown($"dd").as("m"))
      .select($"m").as[Double].head()
    assert(math.abs(mdd - (90.0 / 120.0 - 1)) < 1e-12)
  }

  test("sharpe annualized matches manual computation") {
    val rets = Seq(0.01, -0.02, 0.015, 0.005, -0.01)
    val df = rets.zipWithIndex.map { case (r, i) => ("a", i, r) }.toDF("k", "t", "r")
    val got = df.groupBy($"k").agg(Eod.sharpe($"r", 0.0, 252).as("s"))
      .select($"s").as[Double].head()
    val mean = rets.sum / rets.size
    val sd = math.sqrt(rets.map(x => (x - mean) * (x - mean)).sum / (rets.size - 1))
    assert(math.abs(got - mean / sd * math.sqrt(252.0)) < 1e-12)
  }

  test("totalReturn and rebase") {
    val df = series(50.0, 75.0, 60.0)
    val tr = df.groupBy($"k").agg(Eod.totalReturn($"p", $"t").as("tr"))
      .select($"tr").as[Double].head()
    assert(math.abs(tr - 0.2) < 1e-12)
    val rb = df.select(Eod.rebase($"p", w).as("rb")).orderBy($"rb")
      .as[Double].collect()
    assert(rb.sameElements(Array(100.0, 120.0, 150.0)))
  }

  test("degenerate series never error: zeros, single row, constants") {
    // One bad partition (zero price, constant series, single tick) in a
    // 100 TB job must produce nulls, not DIVIDE_BY_ZERO aborts.
    val zero = series(100.0, 0.0, 50.0)
    val rets = zero.select(Eod.toReturns($"p", w).as("r"))
      .as[Option[Double]].collect()
    assert(rets.contains(None))                        // 50/0 → null
    assert(rets.flatten.contains(-1.0))                // 0/100 - 1
    zero.select(Eod.toLogReturns($"p", w)).collect()   // no error
    zero.select(Eod.toDrawdownSeries($"p", w)).collect()
    val single = series(42.0)
    val cagr = single.groupBy($"k")
      .agg(Eod.cagr($"p", $"t".cast("timestamp")).as("c"))
      .select($"c").as[Option[Double]].head()
    assert(cagr.isEmpty)                               // yearFrac 0 → null
    val const = series(7.0, 7.0, 7.0)
    val sharpe = const.withColumn("r", Eod.toReturns($"p", w))
      .groupBy($"k").agg(Eod.sharpe($"r", 0.0, 252).as("s"))
      .select($"s").as[Option[Double]].head()
    assert(sharpe.isEmpty)                             // zero vol → null
  }

  test("price index hits zero and stays there after a total loss") {
    val df = Seq(("a", 0, 0.5), ("a", 1, -1.0), ("a", 2, 0.25))
      .toDF("k", "t", "r")
    val idx = df.select(Eod.toPriceIndex($"r", w).as("i")).orderBy($"i")
      .as[Double].collect().sorted
    // cumprod: 150, then 0 (total loss), then 0 — not a recovery
    assert(idx.count(_ == 0.0) == 2 && idx.contains(150.0))
  }

  test("VaR is the interpolated 5% quantile; CVaR the tail mean") {
    // 21 evenly spaced returns -0.10 .. +0.10: the R-7 5% quantile of
    // n=21 sits exactly on sorted index 1 (0-based): -0.09.
    val rets = (0 to 20).map(i => ("a", i, -0.10 + i * 0.01))
    val df = rets.toDF("k", "t", "r")
    val v = df.groupBy($"k").agg(Eod.valueAtRisk($"r", 0.05).as("v"))
      .select($"v").as[Double].head()
    assert(math.abs(v - -0.09) < 1e-12)
    val cv = df
      .withColumn("vc", Eod.valueAtRisk($"r", 0.05).over(Window.partitionBy($"k")))
      .groupBy($"k").agg(Eod.cvarGivenVar($"r", $"vc").as("cv"))
      .select($"cv").as[Double].head()
    assert(math.abs(cv - (-0.10 + -0.09) / 2) < 1e-12)  // mean of {-0.10, -0.09}
  }

  test("omega ratio: gains over losses around the threshold") {
    val df = Seq(("a", 0, 0.03), ("a", 1, -0.01), ("a", 2, 0.02), ("a", 3, -0.04))
      .toDF("k", "t", "r")
    val got = df.groupBy($"k").agg(Eod.omegaRatio($"r", 0.0).as("o"))
      .select($"o").as[Double].head()
    assert(math.abs(got - (0.03 + 0.02) / (0.01 + 0.04)) < 1e-12)
    // all-gain series: zero denominator → null, not an ANSI abort
    val allUp = Seq(("a", 0, 0.01), ("a", 1, 0.02)).toDF("k", "t", "r")
    assert(allUp.groupBy($"k").agg(Eod.omegaRatio($"r", 0.0).as("o"))
      .select($"o").as[Option[Double]].head().isEmpty)
  }

  test("tail ratio and gain-to-pain on a hand-computable series") {
    // 5 returns: p95/p5 interpolate within the order statistics (R-7:
    // h = p(n-1), linear between floor/ceil ranks).
    val r = Seq(-0.04, -0.01, 0.01, 0.02, 0.05)
    val df = r.zipWithIndex.map { case (v, i) => ("a", i, v) }
      .toDF("k", "t", "r")
      .withColumn("q", floor($"r" * 1e6 + 0.5).cast("long"))
    val got = df.groupBy($"k")
      .agg(Eod.tailRatio($"r").as("tr"), Eod.gainToPain($"q").as("gp"))
      .select($"tr", $"gp").as[(Double, Double)].head()
    // p95: h=3.8 → 0.02+0.8·(0.05−0.02)=0.044; p5: h=0.2 → −0.04+0.2·0.03=−0.034
    assert(math.abs(got._1 - 0.044 / 0.034) < 1e-9, s"tail ratio ${got._1}")
    assert(math.abs(got._2 - (0.01 + 0.02 + 0.05) / 0.05) < 1e-9,
      s"gain-to-pain ${got._2}")
    // loss-free series: null, not inf (the safeDiv contract)
    val up = Seq(("a", 0, 0.01, 10000L), ("a", 1, 0.02, 20000L))
      .toDF("k", "t", "r", "q")
    assert(up.groupBy($"k").agg(Eod.gainToPain($"q").as("gp"))
      .select($"gp").as[Option[Double]].head().isEmpty)
  }

  test("skewness and excess kurtosis from centered deviations") {
    // symmetric data → skew 0; {-1,-1,1,1} → m2=1, m4=1 → kurt −2
    val df = Seq(-1.0, -1.0, 1.0, 1.0).zipWithIndex
      .map { case (r, i) => ("a", i, r) }.toDF("k", "t", "r")
    val centered = df.withColumn("d",
      $"r" - avg($"r").over(Window.partitionBy($"k")))
    val row = centered.groupBy($"k")
      .agg(Eod.skewnessFromDev($"d").as("s"),
        Eod.excessKurtosisFromDev($"d").as("x"))
      .select($"s", $"x").as[(Double, Double)].head()
    assert(math.abs(row._1) < 1e-12 && math.abs(row._2 - -2.0) < 1e-12)
    // asymmetric hand case: {0,0,3} → μ=1, m2=2, m3=(−1−1+8)/3=2
    val asym = Seq(0.0, 0.0, 3.0).zipWithIndex
      .map { case (r, i) => ("a", i, r) }.toDF("k", "t", "r")
    val s = asym.withColumn("d", $"r" - avg($"r").over(Window.partitionBy($"k")))
      .groupBy($"k").agg(Eod.skewnessFromDev($"d").as("s"))
      .select($"s").as[Double].head()
    assert(math.abs(s - 2.0 / math.pow(2.0, 1.5)) < 1e-12)
  }

  test("EWMA volatility matches the hand-computed truncated fold") {
    val rets = Seq(0.01, -0.02, 0.015)
    val df = rets.zipWithIndex.map { case (r, i) => ("a", i, r) }.toDF("k", "t", "r")
    val got = df.select($"t", Eod.ewmaVolatility($"r", w, 60).as("v"))
      .orderBy($"t").select($"v").as[Double].collect()
    val lam = 0.94
    def ewma(rs: Seq[Double]): Double = {
      // rs newest-first
      val s = rs.zipWithIndex.map { case (r, j) => r * r * math.pow(lam, j) }.sum
      math.sqrt(s * (1 - lam) / (1 - math.pow(lam, rs.size)))
    }
    assert(math.abs(got(0) - ewma(Seq(0.01))) < 1e-12)
    assert(math.abs(got(1) - ewma(Seq(-0.02, 0.01))) < 1e-12)
    assert(math.abs(got(2) - ewma(Seq(0.015, -0.02, 0.01))) < 1e-12)
  }

  test("full-sample CAPM recovers a planted alpha and beta") {
    // ra = 0.001 + 1.5·rb exactly → beta 1.5, per-period alpha 0.001,
    // R² 1; tracking error is the stddev of (ra − rb) by definition.
    val rb = Seq(0.01, -0.02, 0.015, 0.005, -0.01, 0.02)
    val df = rb.zipWithIndex.map { case (b, i) => ("a", i, 0.001 + 1.5 * b, b) }
      .toDF("k", "t", "ra", "rb")
    val got = df.groupBy($"k").agg(
        Eod.capmBeta($"ra", $"rb").as("beta"),
        Eod.capmAlpha($"ra", $"rb").as("alpha"),
        Eod.capmR2($"ra", $"rb").as("r2"),
        Eod.trackingError($"ra", $"rb").as("te"))
      .as[(String, Double, Double, Double, Double)].collect().head
    assert(math.abs(got._2 - 1.5) < 1e-12)
    assert(math.abs(got._3 - 0.001) < 1e-12)
    assert(math.abs(got._4 - 1.0) < 1e-12)
    val diffs = rb.map(b => 0.001 + 0.5 * b)
    val mean = diffs.sum / diffs.size
    val sd = math.sqrt(diffs.map(d => (d - mean) * (d - mean)).sum / (diffs.size - 1))
    assert(math.abs(got._5 - sd * math.sqrt(252.0)) < 1e-12)
  }

  test("capture ratios and win rate split on the benchmark's sign") {
    // up periods: rb ∈ {0.02, 0.04} with ra {0.01, 0.03};
    // down periods: rb ∈ {-0.02} with ra {-0.04}. Zero-rb row excluded
    // from both captures but counted by the win rate.
    val rows = Seq(
      ("a", 0, 0.01, 0.02), ("a", 1, 0.03, 0.04),
      ("a", 2, -0.04, -0.02), ("a", 3, 0.01, 0.0))
    val df = rows.toDF("k", "t", "ra", "rb")
    val got = df.groupBy($"k").agg(
        Eod.upCapture($"ra", $"rb").as("up"),
        Eod.downCapture($"ra", $"rb").as("down"),
        Eod.winRate($"ra").as("wr"))
      .as[(String, Double, Double, Double)].collect().head
    assert(math.abs(got._2 - (0.02 / 0.03)) < 1e-12)   // avg(.01,.03)/avg(.02,.04)
    assert(math.abs(got._3 - 2.0) < 1e-12)             // -0.04 / -0.02
    assert(math.abs(got._4 - 0.75) < 1e-12)            // 3 of 4 positive
  }

  test("resampleToPeriod compacts to period-end values at any grain") {
    // daily prices across a month boundary: monthly grain keeps the
    // LAST value of each month and chains returns off it
    val rows = Seq(
      ("a", "2024-01-30 10:00:00", 100.0), ("a", "2024-01-31 10:00:00", 110.0),
      ("a", "2024-02-01 10:00:00", 120.0), ("a", "2024-02-29 10:00:00", 99.0),
      ("b", "2024-01-15 10:00:00", 50.0))
    val df = rows.toDF("k", "ts", "v").withColumn("ts", $"ts".cast("timestamp"))
    val m = Eod.resampleToPeriod(df, "k", "ts", "v", "month")
      .select($"k", month($"period").as("mo"), $"eop", $"period_ret")
      .as[(String, Int, Double, Option[Double])].collect().sortBy(r => (r._1, r._2))
    assert(m.toSeq == Seq(
      ("a", 1, 110.0, None),                    // Jan end = 110, no prior
      ("a", 2, 99.0, Some(99.0 / 110.0 - 1.0)), // Feb end chains off Jan
      ("b", 1, 50.0, None)))
    // weekly grain on the same data: 2024-01-30/31 + 02-01 share a week
    val w = Eod.resampleToPeriod(df.where($"k" === "a"), "k", "ts", "v", "week")
      .select($"eop").as[Double].collect().sorted
    assert(w.toSeq == Seq(99.0, 120.0)) // week of Jan 29 ends at Feb 1's 120
  }
}
