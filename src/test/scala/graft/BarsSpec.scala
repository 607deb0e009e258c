package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Bars

class BarsSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  test("time bars: OHLCV per 5-minute window") {
    val ticks = Seq(
      ("A", t(0, 10), 10.0, 1.0), ("A", t(1), 12.0, 2.0), ("A", t(4), 9.0, 1.0),
      ("A", t(6), 11.0, 4.0), ("B", t(0), 5.0, 10.0)).toDF("ticker", "ts", "p", "v")
    val bars = Bars.timeBars(ticks, "ticker", "ts", "p", "v", "5 minutes")
      .orderBy($"ticker", $"bar_start").collect()
    assert(bars.length == 3)
    val a0 = bars(0) // A, first window
    assert(a0.getDouble(2) == 10.0 && a0.getDouble(3) == 12.0 &&
      a0.getDouble(4) == 9.0 && a0.getDouble(5) == 9.0)
    assert(a0.getDouble(6) == 4.0) // volume
    assert(math.abs(a0.getDouble(7) - (10 * 1 + 12 * 2 + 9 * 1) / 4.0) < 1e-9)
    assert(a0.getLong(8) == 3)
    val a1 = bars(1)
    assert(a1.getDouble(2) == 11.0 && a1.getLong(8) == 1)
  }

  test("time bars: a zero-volume bar has a null vwap") {
    val ticks = Seq(("A", t(0), 10.0, 0.0), ("A", t(1), 11.0, 0.0),
      ("A", t(6), 12.0, 2.0)).toDF("ticker", "ts", "p", "v")
    val vwap = Bars.timeBars(ticks, "ticker", "ts", "p", "v", "5 minutes")
      .orderBy($"bar_start").select($"vwap").as[Option[Double]].collect()
    assert(vwap.toSeq == Seq(None, Some(12.0)))
  }

  test("tick bars: one bar per N ticks in time order") {
    val ticks = (0 until 10).map(i => ("A", t(i), 100.0 + i, 1.0))
      .toDF("ticker", "ts", "p", "v")
    val bars = Bars.tickBars(ticks, "ticker", "ts", "p", "v", 4)
      .orderBy($"bar").collect()
    assert(bars.length == 3)
    assert(bars(0).getDouble(2) == 100.0 && bars(0).getDouble(5) == 103.0)
    assert(bars(2).getLong(7) == 2) // last partial bar has 2 ticks
  }

  test("volume bars: the crossing tick closes its bar") {
    // vol 3 each, threshold 5: exclusive prefix 0,3,6,9,12 → bars 0,0,1,1,2
    val ticks = (0 until 5).map(i => ("A", t(i), 100.0 + i, 3.0))
      .toDF("ticker", "ts", "p", "v")
    val bars = Bars.volumeBars(ticks, "ticker", "ts", "p", "v", threshold = 5L)
      .orderBy($"bar")
      .select($"bar", $"open", $"close", $"volume", $"n_ticks")
      .as[(Long, Double, Double, Double, Long)].collect()
    assert(bars.map(_._1).sameElements(Array(0L, 1L, 2L)))
    assert(bars(0) == ((0L, 100.0, 101.0, 6.0, 2L)))
    assert(bars(1) == ((1L, 102.0, 103.0, 6.0, 2L)))
    assert(bars(2) == ((2L, 104.0, 104.0, 3.0, 1L)))
  }

  test("dollar bars: cent-quantized prefix keeps edges exact") {
    // p·v ≈ $200/tick → cents 20000,20200,20400,20600; threshold 50000
    // cents → exclusive prefix 0,20000,40200,60600 → bars 0,0,0,1
    val ticks = (0 until 4).map(i => ("A", t(i), 100.0 + i, 2.0))
      .toDF("ticker", "ts", "p", "v")
    val bars = Bars.dollarBars(ticks, "ticker", "ts", "p", "v",
        thresholdCents = 50000L)
      .orderBy($"bar").select($"bar", $"n_ticks").as[(Long, Long)].collect()
    assert(bars.map(_._1).sameElements(Array(0L, 1L)))
    assert(bars(0)._2 == 3L && bars(1)._2 == 1L)
  }
}
