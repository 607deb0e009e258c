package graft

import org.apache.spark.sql.functions._

/** Round-11 fifth wave: ACD expected durations, PCA market factor,
  * risk-parity weights. Each query is checked against an independent
  * in-test recomputation (collected rows + plain Scala math in a
  * different algebraic form where one exists; the quantized linear-
  * algebra ops are re-derived step-for-step from raw parquet, which
  * exercises every engine-side moment/quantization stage).
  */
class Round11eSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** The k×k solvers' inputs: the testdata plus 8- and 16-series twins
    * (past the old 7-series grid).
    */
  private lazy val matrixDirs = dir +: Seq(8, 16).map(Round15Spec.eventsDir(spark, _))

  /** (unix_micros, event_id, value) rows per event_type, pinned order. */
  private def rawRows(dir: String = dir)
      : Map[String, Array[(Long, Long, Double)]] =
    graft.sources.Tables.load(spark, dir, "events")
      .select($"event_type", unix_micros($"ts"), $"event_id", $"value")
      .as[(String, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (k, rs) =>
        k -> rs.map(r => (r._2, r._3, r._4)).sortBy(r => (r._1, r._2))
      }

  private def retsOf(p: Array[Double]): Array[Double] =
    p.sliding(2).map { case Array(a, b) => b / a - 1 }.toArray

  test("tick_acd: truncated ACD fold matches an explicit-loop replay") {
    val got = SparkEntry.queries("tick_acd")(spark, dir)
      .select($"event_type", $"event_id", $"acd_psi", $"dur_surprise")
      .as[(String, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val (om, al, be) = (0.05, 0.10, 0.85)
    var checked = 0
    for ((k, rows) <- rawRows()) {
      val x = rows.sliding(2)
        .map { case Array(a, b) => (b._2, (b._1 - a._1) * 1000.0 / 1e9) }
        .toArray // (event_id of the later row, duration seconds)
      for (i <- 1 until x.length) {
        val frame = x.slice(math.max(0, i - 60), i).map(_._2)
        val kk = frame.length
        // different form: both geometric sums as explicit loops,
        // accumulated oldest-first (the engine folds newest-first
        // against the closed-form omega term)
        var wsum = 0.0; var asum = 0.0
        for (j <- 0 until kk) {
          wsum += math.pow(be, j.toDouble)
          asum += math.pow(be, (kk - 1 - j).toDouble) * frame(j)
        }
        val psi = om * wsum + al * asum
        val (gp, gs) = got((k, x(i)._1))
        assert(math.abs(gp - psi) < 6e-5, s"$k id=${x(i)._1} psi $gp vs $psi")
        assert(math.abs(gs - x(i)._2 / psi) < 6e-7 + 1e-9 * math.abs(gs),
          s"$k id=${x(i)._1} surprise")
        checked += 1
      }
    }
    assert(checked > 500, s"only $checked rows checked")
  }

  /** Quantized pair moments from raw parquet, mirroring
    * quantizedPairMoments: zip of the rn-aligned return arrays on the
    * 1e-6 grid, products in BigInt.
    */
  private def pairMoments(dir: String): (Array[String], Map[(String, String),
      (Long, BigInt, BigInt, BigInt, BigInt, BigInt)]) = {
    val qs = rawRows(dir).map { case (k, rows) =>
      k -> retsOf(rows.map(_._3)).map(r => math.floor(r * 1e6 + 0.5).toLong)
    }
    val types = qs.keys.toArray.sorted
    val m = (for (a <- types; b <- types) yield {
      val z = qs(a).zip(qs(b))
      val n = z.length.toLong
      val sa = BigInt(z.map(_._1).sum); val sb = BigInt(z.map(_._2).sum)
      val sab = z.map { case (x, y) => BigInt(x) * y }.sum
      val saa = z.map { case (x, _) => BigInt(x) * x }.sum
      val sbb = z.map { case (_, y) => BigInt(y) * y }.sum
      (a, b) -> ((n, sa, sb, sab, saa, sbb))
    }).toMap
    (types, m)
  }

  test("eod_pca_factor: 6 quantized power iterations re-derived from raw data") {
    for (dir <- matrixDirs) {
      val got = SparkEntry.queries("eod_pca_factor")(spark, dir)
        .select($"event_type", $"loading", $"eigval", $"var_share")
        .as[(String, Double, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      val (types, pm) = pairMoments(dir)
      val kN = types.length
      val rq = pm.map { case (k, (n, sa, sb, sab, saa, sbb)) =>
        val num = BigInt(n) * sab - sa * sb
        val dxx = BigInt(n) * saa - sa * sa
        val dyy = BigInt(n) * sbb - sb * sb
        val rho = if (dxx > 0 && dyy > 0)
          num.toDouble / math.sqrt(dxx.toDouble * dyy.toDouble) else 0.0
        k -> math.floor(rho * 1e6 + 0.5).toLong
      }
      var vq = types.map(_ => 1000000L)
      var nrm = 0.0
      for (_ <- 1 to 6) {
        val wv = types.map(a =>
          types.indices.map(j => rq((a, types(j))) * vq(j)).sum)
        nrm = math.sqrt(wv.map(w => BigInt(w) * w).sum.toDouble)
        vq = wv.map(w => math.floor(w / nrm * 1e6 + 0.5).toLong)
      }
      // rounding-invariants: loading² sums to ~1, var_share = λ/K
      assert(math.abs(vq.map(v => v / 1e6).map(x => x * x).sum - 1.0) < 1e-2)
      for ((t, i) <- types.zipWithIndex) {
        val (gl, ge, gv) = got(t)
        assert(math.abs(gl - vq(i) / 1e6) < 6e-5, s"$t loading $gl vs ${vq(i) / 1e6}")
        assert(math.abs(ge - nrm / 1e12) < 6e-7, s"$t eigval")
        assert(math.abs(gv - nrm / 1e12 / kN) < 6e-5, s"$t var_share")
      }
    }
  }

  test("eod_risk_parity: 4 fixed-point rounds re-derived; weights sum to 1") {
    for (dir <- matrixDirs) {
      val got = SparkEntry.queries("eod_risk_parity")(spark, dir)
        .select($"event_type", $"weight", $"risk_share", $"port_vol")
        .as[(String, Double, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      val (types, pm) = pairMoments(dir)
      val kN = types.length
      val cq = pm.map { case (k, (n, sa, sb, sab, _, _)) =>
        val num = BigInt(n) * sab - sa * sb
        k -> BigInt(math.floor(num.toDouble / (n.toDouble * (n - 1.0)) + 0.5).toLong)
      }
      var wq = types.map(_ => math.floor(1e8 / kN + 0.5).toLong)
      def rcOf(w: Array[Long]) = types.map(a =>
        types.indices.map(j => cq((a, types(j))) * w(j)).sum)
      for (_ <- 1 to 4) {
        val rc = rcOf(wq)
        val u = types.indices.map(i =>
          math.sqrt(wq(i).toDouble / rc(i).max(BigInt(1)).toDouble)).toArray
        val mx = u.max
        val uq = u.map(x => math.floor(x / mx * 1e12 + 0.5).toLong)
        val su = uq.sum
        wq = uq.map(x => math.floor(x.toDouble / su * 1e8 + 0.5).toLong)
      }
      val rc = rcOf(wq)
      val wr = types.indices.map(i => rc(i) * wq(i))
      val twr = wr.sum
      val vol = math.sqrt(twr.max(BigInt(0)).toDouble) / 1e8 / 1e6
      assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-4, "weights sum")
      assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-2, "risk shares sum")
      for ((t, i) <- types.zipWithIndex) {
        val (gw, gs, gv) = got(t)
        assert(gw > 0.0, s"$t weight sign")
        assert(math.abs(gw - wq(i) / 1e8) < 6e-7, s"$t weight $gw vs ${wq(i) / 1e8}")
        assert(math.abs(gs - wr(i).toDouble / twr.toDouble) < 6e-5, s"$t share")
        assert(math.abs(gv - vol) < 6e-7, s"$t port_vol")
      }
    }
  }
}
