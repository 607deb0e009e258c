package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Eod

class RollingSpec extends SparkSpec {
  import spark.implicits._

  private val w = Window.partitionBy($"k").orderBy($"t")

  test("rolling mean/vol over a trailing frame match manual windows") {
    val rets = Seq(0.01, -0.02, 0.03, 0.0, 0.01, -0.01)
    val df = rets.zipWithIndex.map { case (r, i) => ("a", i, r) }.toDF("k", "t", "r")
    val out = df.select($"t",
        Eod.rollingMean($"r", w, 3).as("m"),
        Eod.rollingVolatility($"r", w, 3).as("v"))
      .orderBy($"t").as[(Int, Double, Option[Double])].collect()
    // t=2: frame {0.01,-0.02,0.03}
    val f = Seq(0.01, -0.02, 0.03)
    val mean = f.sum / 3
    assert(math.abs(out(2)._2 - mean) < 1e-12)
    val sd = math.sqrt(f.map(x => (x - mean) * (x - mean)).sum / 2)
    assert(math.abs(out(2)._3.get - sd) < 1e-12)
    // leading partial frames: t=0 has a single sample → null vol
    assert(out(0)._2 == 0.01)
  }

  test("rolling sharpe = rolling mean / rolling vol * sqrt(252)") {
    val rets = (1 to 30).map(i => math.sin(i.toDouble) / 100)
    val df = rets.zipWithIndex.map { case (r, i) => ("a", i, r) }.toDF("k", "t", "r")
    val rows = df.select(
        Eod.rollingSharpe($"r", w, 10).as("s"),
        (Eod.rollingMean($"r", w, 10) / Eod.rollingVolatility($"r", w, 10)
          * math.sqrt(252.0)).as("manual"))
      .where($"s".isNotNull)
      .as[(Double, Double)].collect()
    rows.foreach { case (s, m) => assert(math.abs(s - m) < 1e-12) }
  }

  test("rolling sortino: loss-only RMS denominator, null when no losses") {
    val rets = Seq(0.02, -0.01, 0.03, -0.02, 0.01)
    val df = rets.zipWithIndex.map { case (r, i) => ("a", i, r) }.toDF("k", "t", "r")
    val out = df.select($"t",
        Eod.rollingDownsideDev($"r", w, 3).as("dd"),
        Eod.rollingSortino($"r", w, 3).as("so"))
      .orderBy($"t").as[(Int, Double, Option[Double])].collect()
    // t=3: frame {-0.01, 0.03, -0.02} → RMS of {-0.01, 0, -0.02}
    val dd = math.sqrt((0.01 * 0.01 + 0.0 + 0.02 * 0.02) / 3)
    assert(math.abs(out(3)._2 - dd) < 1e-12)
    val mean = (-0.01 + 0.03 - 0.02) / 3
    assert(math.abs(out(3)._3.get - mean / dd * math.sqrt(252.0)) < 1e-12)
    // t=0: the only frame row is a gain → zero downside → null sortino
    assert(out(0)._2 == 0.0 && out(0)._3.isEmpty)
  }

  test("rolling up/down capture and win rate over a trailing frame") {
    // paired (ra, rb): benchmark up at t=0,2, down at t=1,3
    val rows = Seq(
      ("a", 0, 0.02, 0.01), ("a", 1, -0.01, -0.02),
      ("a", 2, 0.03, 0.02), ("a", 3, 0.01, -0.01))
    val df = rows.toDF("k", "t", "ra", "rb")
    val out = df.select($"t",
        Eod.rollingUpCapture($"ra", $"rb", w, 3).as("up"),
        Eod.rollingDownCapture($"ra", $"rb", w, 3).as("dn"),
        Eod.rollingWinRate($"ra", w, 3).as("wr"))
      .orderBy($"t")
      .as[(Int, Option[Double], Option[Double], Double)].collect()
    // t=2 frame {0,1,2}: up rows 0,2 → avg(ra)=0.025 / avg(rb)=0.015
    assert(math.abs(out(2)._2.get - 0.025 / 0.015) < 1e-12)
    // down rows: just row 1 → -0.01 / -0.02
    assert(math.abs(out(2)._3.get - 0.5) < 1e-12)
    assert(math.abs(out(2)._4 - 2.0 / 3) < 1e-12)
    // t=0 frame has no falling-benchmark row → null down-capture
    assert(out(0)._3.isEmpty && out(0)._2.isDefined)
    // t=3 frame {1,2,3}: down rows 1,3 → avg(ra)=0.0 / avg(rb)=-0.015 = -0.0
    assert(math.abs(out(3)._3.get - 0.0) < 1e-12)
  }

  test("rolling beta recovers an exact linear relationship") {
    // ra = 2·rb exactly → beta = 2 once the frame has ≥2 rows
    val rb = Seq(0.01, -0.02, 0.015, 0.005, -0.01)
    val df = rb.zipWithIndex.map { case (b, i) => ("a", i, 2 * b, b) }
      .toDF("k", "t", "ra", "rb")
    val got = df.select($"t", Eod.rollingBeta($"ra", $"rb", w, 3).as("beta"))
      .orderBy($"t").select($"beta").as[Option[Double]].collect()
    assert(got(0).isEmpty)                             // 1-row frame: undefined
    got.drop(1).foreach(b => assert(math.abs(b.get - 2.0) < 1e-9))
    // rolling corr of a perfect positive linear relationship is 1
    val corr = df.select(Eod.rollingCorr($"ra", $"rb", w, 3).as("c"))
      .where($"c".isNotNull).select($"c").as[Double].collect()
    corr.foreach(c => assert(math.abs(c - 1.0) < 1e-9))
  }

  test("every rolling function equals its frame-bounded aggregate (seeded)") {
    // 3 series of 45 rows, ~15% null ra and rb each; Gaussian returns
    // so no frame is flat. n = 60 is longer than every series.
    val rnd = new scala.util.Random(20261019L)
    def draw(): Option[Double] =
      if (rnd.nextDouble() < 0.15) None else Some(0.001 + 0.02 * rnd.nextGaussian())
    val rows = for (k <- Seq("a", "b", "c"); t <- 0 until 45)
      yield (k, t, draw(), draw())
    val df = rows.toDF("k", "t", "ra", "rb")
    val (ra, rb) = (col("ra"), col("rb"))
    val paired = ra.isNotNull && rb.isNotNull
    val (pa, pb) = (when(paired, ra), when(paired, rb))
    val loss = when(ra.isNotNull, least(ra, lit(0.0)))
    val annual = math.sqrt(252.0)
    def ratio(a: Column, b: Column) = when(b =!= 0, a / b)
    for (n <- Seq(1, 2, 3, 20, 60)) {
      val f = Eod.trailing(w, n)
      val (mean, sd) = (avg(ra).over(f), stddev_samp(ra).over(f))
      val dsd = sqrt(avg(loss * loss).over(f))
      def capture(side: Column) =
        ratio(avg(when(paired && side, ra)).over(f),
          avg(when(paired && side, rb)).over(f))
      val cases = Seq(
        "mean" -> (Eod.rollingMean(ra, w, n), mean),
        "vol" -> (Eod.rollingVolatility(ra, w, n), sd),
        "sharpe" -> (Eod.rollingSharpe(ra, w, n), ratio(mean, sd) * annual),
        "downside" -> (Eod.rollingDownsideDev(ra, w, n), dsd),
        "sortino" -> (Eod.rollingSortino(ra, w, n), ratio(mean, dsd) * annual),
        "beta" -> (Eod.rollingBeta(ra, rb, w, n),
          ratio(covar_samp(pa, pb).over(f), var_samp(pb).over(f))),
        "corr" -> (Eod.rollingCorr(ra, rb, w, n), corr(pa, pb).over(f)),
        "up" -> (Eod.rollingUpCapture(ra, rb, w, n), capture(rb > 0)),
        "down" -> (Eod.rollingDownCapture(ra, rb, w, n), capture(rb < 0)),
        "win" -> (Eod.rollingWinRate(ra, w, n),
          avg(when(ra.isNotNull, when(ra > 0, 1.0).otherwise(0.0))).over(f)))
      val out = df.select(col("k") +: col("t") +: cases.flatMap {
          case (name, (got, ref)) => Seq(got.as(name), ref.as(s"${name}_ref"))
        }: _*).collect()
      assert(out.length == rows.length)
      for (r <- out; (name, _) <- cases) {
        def v(c: String) =
          if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
        val (got, ref) = (v(name), v(s"${name}_ref"))
        val ok = (got, ref) match {
          case (None, None) => true
          case (Some(a), Some(b)) =>
            math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
          case _ => false
        }
        assert(ok, s"$name n=$n ${r.getString(0)}/${r.getInt(1)}: $got vs $ref")
      }
    }
  }

  test("the rolling queries plan no bounded sliding frame") {
    // The frame-difference form shows as (unboundedpreceding, -k)
    // frames; a (-k, currentrow) frame would be the O(k)-per-row
    // re-aggregating form coming back.
    for (q <- Seq("eod_rolling", "eod_rolling_beta", "eod_rolling_corr",
                  "eod_rolling_capture")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      df.collect() // finalize the adaptive plan
      val p = df.queryExecution.executedPlan.toString.toLowerCase
      assert(p.contains("specifiedwindowframe(rowframe, unboundedpreceding$(), -"),
        s"$q: no frame-difference window\n" + p.take(1500))
      assert("""specifiedwindowframe\(rowframe, -\d+, currentrow""".r
          .findFirstIn(p).isEmpty,
        s"$q: bounded sliding frame in the plan\n" + p.take(1500))
    }
  }
}
