package graft

import org.apache.spark.sql.functions._

/** Round-12 second wave: Cramér's V effect size and the tangency
  * (max-Sharpe) portfolio. The V test recomputes the contingency
  * algebra from raw parquet; the tangency test re-derives the six
  * integer Jacobi sweeps step-for-step AND cross-checks the converged
  * direction against an independent dense Gaussian-elimination solve
  * of the real-valued system (different algorithm, same answer up to
  * quantization), so both the exact replay and the convergence claim
  * are pinned.
  */
class Round12bSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("stats_cramers_v: effect size from a local contingency table") {
    val rows = graft.sources.Tables.load(spark, dir, "documents")
      .select($"source", $"lang").as[(String, String)].collect()
    val o = rows.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val rt = o.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val ct = o.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    val n = o.values.sum
    val chi2q = o.map { case ((s, l), obs) =>
      val e = (rt(s) * ct(l)).toDouble / n.toDouble
      math.floor((obs - e) * (obs - e) / e * 1e9 + 0.5).toLong
    }.sum
    val chi2r = chi2q.toDouble / 1e9
    val v = math.sqrt(chi2r / (n.toDouble * (math.min(rt.size, ct.size) - 1)))
    val grade = if (v < 0.1) "negligible" else if (v < 0.3) "weak"
      else if (v < 0.5) "moderate" else "strong"
    val got = SparkEntry.queries("stats_cramers_v")(spark, dir)
      .select($"n", $"dof", $"chi2", $"cramers_v", $"association")
      .as[(Long, Long, Double, Double, String)].collect()
    assert(got.length == 1)
    val g = got.head
    assert(g._1 == n && g._2 == (rt.size - 1).toLong * (ct.size - 1))
    assert(math.abs(g._3 - chi2r) < 6e-7 + 1e-9 * chi2r, s"chi2 ${g._3}")
    assert(math.abs(g._4 - v) < 6e-7, s"V ${g._4} vs $v")
    assert(g._5 == grade, s"grade ${g._5} vs $grade")
  }

  test("text_textrank: 3 integer PageRank rounds on a locally built word graph") {
    val texts = graft.sources.Tables.load(spark, dir, "documents")
      .select($"text").as[String].collect()
    val bip = collection.mutable.Map.empty[(String, String), Long]
    for (t <- texts) {
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      for (Array(a, b) <- toks.sliding(2).map(_.toArray) if toks.length > 1
           if a != b)
        bip((a, b)) = bip.getOrElse((a, b), 0L) + 1
    }
    val e = collection.mutable.Map.empty[(String, String), Long]
    for (((x, y), c) <- bip) {
      e((x, y)) = e.getOrElse((x, y), 0L) + c
      e((y, x)) = e.getOrElse((y, x), 0L) + c
    }
    val st = e.groupBy(_._1._1).map { case (w, es) => w -> es.values.sum }
    val words = st.keys.toArray.sorted
    val nw = words.length.toLong
    var rq = words.map(_ => 1000000000L / nw).toArray
    val idx = words.zipWithIndex.toMap
    for (_ <- 1 to 3) {
      val inflow = Array.fill(words.length)(0L)
      for (((src, dst), wt) <- e)
        inflow(idx(dst)) += rq(idx(src)) * wt / st(src)
      rq = inflow.map(f => 150000000L / nw + 17 * f / 20)
    }
    val want = words.zip(rq).sortBy { case (w, r) => (-r, w) }.take(20)
      .map { case (w, r) => w -> r.toDouble / 1e9 }
    val got = SparkEntry.queries("text_textrank")(spark, dir)
      .select($"word", $"textrank").as[(String, Double)].collect()
    assert(got.toSeq == want.toSeq,
      s"got ${got.take(3).mkString(",")} want ${want.take(3).mkString(",")}")
  }

  /** Shared with Round11eSpec's convention: per-type quantized returns
    * aligned by index.
    */
  private def quantizedSeries(dir: String): Map[String, Array[Long]] =
    graft.sources.Tables.load(spark, dir, "events")
      .select($"event_type", unix_micros($"ts"), $"event_id", $"value")
      .as[(String, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (k, rs) =>
        val p = rs.sortBy(r => (r._2, r._3)).map(_._4)
        k -> p.sliding(2).map { case Array(a, b) =>
          math.floor((b / a - 1) * 1e6 + 0.5).toLong
        }.toArray
      }

  test("stats_permutation: 100 md5-coin relabelings recomputed locally") {
    def md5word(sIn: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(sIn.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(8), 16)
    }
    val rows = graft.sources.Tables.load(spark, dir, "events")
      .where($"event_type".isin("click", "view"))
      .select($"event_type", unix_micros($"ts"), $"event_id", $"value")
      .as[(String, Long, Long, Double)].collect()
      .groupBy(_._1).flatMap { case (k, rs) =>
        val ss = rs.sortBy(r => (r._2, r._3))
        ss.sliding(2).collect { case Array(a, b) =>
          (k, b._3, math.floor((b._4 / a._4 - 1) * 1e6 + 0.5).toLong)
        }
      }.toArray
    val (ca, cb) = rows.partition(_._1 == "click")
    val (sa0, na0) = (ca.map(_._3).sum, ca.length.toLong)
    val (sb0, nb0) = (cb.map(_._3).sum, cb.length.toLong)
    var nExtreme = 0L
    val rhsBase = BigInt(sa0 * nb0 - sb0 * na0).abs
    for (b <- 1 to 100) {
      var sa = 0L; var na = 0L; var sb = 0L; var nb = 0L
      for ((_, id, q) <- rows) {
        if (md5word(s"perm_${b}_$id").toDouble / 4294967296.0 < 0.5) {
          sa += q; na += 1
        } else { sb += q; nb += 1 }
      }
      val lhs = (BigInt(sa) * nb - BigInt(sb) * na).abs *
        (BigInt(na0) * nb0)
      if (na > 0 && nb > 0 && lhs >= rhsBase * (BigInt(na) * nb))
        nExtreme += 1
    }
    val got = SparkEntry.queries("stats_permutation")(spark, dir)
      .select($"n_a", $"n_b", $"n_reps", $"n_extreme", $"p_value")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.length == 1)
    val g = got.head
    assert(g._1 == na0 && g._2 == nb0 && g._3 == 100L,
      s"sizes ${g._1}/${g._2}/${g._3} vs $na0/$nb0/100")
    assert(g._4 == nExtreme, s"n_extreme ${g._4} vs $nExtreme")
    assert(math.abs(g._5 - (nExtreme + 1).toDouble / 101.0) < 1e-5,
      s"p ${g._5}")
  }

  test("stats_bh_fdr: BH step-up recomputed from the published JB statistics") {
    val jb = SparkEntry.queries("eod_jarque_bera")(spark, dir)
      .select($"event_type", $"jb").as[(String, Double)].collect()
    val ps = jb.map { case (t, j) =>
      t -> math.floor(math.exp(-j / 2.0) * 1e9 + 0.5) / 1e9
    }.sortBy { case (t, p) => (p, t) }
    val m = ps.length
    val padj = Array.tabulate(m) { k =>
      (k until m).map(j =>
        math.min(1.0, math.floor(m * ps(j)._2 / (j + 1) * 1e9 + 0.5) / 1e9))
        .min
    }
    val got = SparkEntry.queries("stats_bh_fdr")(spark, dir)
      .select($"event_type", $"p_value", $"rnk", $"p_adj", $"reject")
      .as[(String, Double, Long, Double, Boolean)].collect().sortBy(_._3)
    assert(got.length == m)
    for (k <- 0 until m) {
      val g = got(k)
      assert(g._1 == ps(k)._1 && g._3 == k + 1, s"rank order at $k: $g")
      assert(math.abs(g._2 - ps(k)._2) < 1e-9, s"p at $k")
      assert(math.abs(g._4 - padj(k)) < 1e-9, s"p_adj at $k: ${g._4} vs ${padj(k)}")
      assert(g._5 == (padj(k) <= 0.10), s"reject at $k")
    }
    // step-up monotonicity: adjusted p's are nondecreasing in rank
    for (k <- 1 until m) assert(got(k)._4 >= got(k - 1)._4, "monotone")
  }

  test("embed_whitening: output is the centered vector minus its top-PC component") {
    // Cross-op consistency: op 198 publishes the unit top-PC loadings
    // (vq/1e4 exactly, round-to-4 is lossless on the 1e-4 grid); the
    // whitened rows must equal center(x) − (x_c·v)v up to the output
    // grid, and be orthogonal to v up to quantization.
    val v = SparkEntry.queries("embed_power_iter")(spark, dir)
      .select($"pos", $"loading").as[(Int, Double)].collect()
      .sortBy(_._1).map(_._2)
    val raw = graft.sources.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val dim = v.length
    val n = raw.length
    val mu = Array.tabulate(dim)(p =>
      raw.map(r => math.floor(r._2(p) * 1e4 + 0.5)).sum / n / 1e4)
    val got = SparkEntry.queries("embed_whitening")(spark, dir)
      .select($"vec_id", $"pos", $"xw").as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (k, rs) =>
        k -> rs.sortBy(_._2).map(_._3)
      }
    assert(got.size == n)
    var maxDot = 0.0
    for ((id, x) <- raw) {
      val xc = Array.tabulate(dim)(p => x(p) - mu(p))
      val d = (0 until dim).map(p => xc(p) * v(p)).sum
      val want = Array.tabulate(dim)(p => xc(p) - d * v(p))
      val w = got(id)
      for (p <- 0 until dim)
        assert(math.abs(w(p) - want(p)) < 5e-4,
          s"id=$id pos=$p ${w(p)} vs ${want(p)}")
      maxDot = maxDot.max(math.abs((0 until dim).map(p => w(p) * v(p)).sum))
    }
    assert(maxDot < 5e-3, s"residual top-PC component $maxDot")
  }

  test("eod_tangency: 6 Jacobi sweeps re-derived; direction matches a dense solve") {
    // the testdata plus 8- and 16-series twins (past the old 7-series grid)
    for (dir <- dir +: Seq(8, 16).map(Round15Spec.eventsDir(spark, _))) {
      val qs = quantizedSeries(dir)
      val types = qs.keys.toArray.sorted
      val k = types.length
      def mom(a: String, b: String): (Long, BigInt, BigInt, BigInt) = {
        val z = qs(a).zip(qs(b))
        (z.length.toLong, BigInt(z.map(_._1).sum), BigInt(z.map(_._2).sum),
          z.map { case (x, y) => BigInt(x) * y }.sum)
      }
      val cq = Array.tabulate(k, k) { (i, j) =>
        val (n, sa, sb, sab) = mom(types(i), types(j))
        BigInt(math.floor((BigInt(n) * sab - sa * sb).toDouble /
          (n.toDouble * (n - 1.0)) + 0.5).toLong)
      }
      val muq = types.map { t =>
        val (n, sa, _, _) = mom(t, t)
        BigInt(math.floor(sa.toDouble * 1e6 / n.toDouble + 0.5).toLong)
      }
      val dq = Array.tabulate(k)(i => cq(i)(i).max(BigInt(1)))
      val SW = BigInt(1000000000L)
      var wq = Array.tabulate(k)(i =>
        BigInt(math.floor((muq(i) * SW).toDouble / dq(i).toDouble + 0.5).toLong))
      for (_ <- 1 to 6) {
        wq = Array.tabulate(k) { i =>
          val oq = (0 until k).filter(_ != i).map(j => cq(i)(j) * wq(j)).sum
          BigInt(math.floor((muq(i) * SW - oq).toDouble / dq(i).toDouble + 0.5)
            .toLong)
        }
      }
      val l1 = wq.map(_.abs).sum
      val cw = Array.tabulate(k)(i => (0 until k).map(j => cq(i)(j) * wq(j)).sum)
      val pr = (0 until k).map(i => muq(i) * wq(i)).sum
      val pv = (0 until k).map(i => wq(i) * cw(i)).sum
      val sharpe = pr.toDouble / math.sqrt(pv.max(BigInt(1)).toDouble) / 1e6

      val got = SparkEntry.queries("eod_tangency")(spark, dir)
        .select($"event_type", $"weight", $"port_sharpe")
        .as[(String, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got.keySet == types.toSet)
      for ((t, i) <- types.zipWithIndex) {
        val (gw, gs) = got(t)
        assert(math.abs(gw - wq(i).toDouble / l1.toDouble) < 6e-7,
          s"$t weight $gw vs ${wq(i).toDouble / l1.toDouble}")
        assert(math.abs(gs - sharpe) < 6e-7, s"$t sharpe $gs vs $sharpe")
      }

      // Independent check: dense Gaussian elimination on the REAL-valued
      // system Σw = μ (doubles straight from the integer moments). The
      // Jacobi direction must agree up to quantization + truncation —
      // cosine > 0.999 is far tighter than any wrong-matrix answer gets.
      val a = Array.tabulate(k, k)((i, j) => cq(i)(j).toDouble)
      val bvec = Array.tabulate(k)(i => muq(i).toDouble * SW.toDouble)
      for (p <- 0 until k) {
        val piv = (p until k).maxBy(r => math.abs(a(r)(p)))
        val (tr, tb) = (a(piv), bvec(piv))
        a(piv) = a(p); bvec(piv) = bvec(p); a(p) = tr; bvec(p) = tb
        for (r <- p + 1 until k) {
          val f = a(r)(p) / a(p)(p)
          for (cc <- p until k) a(r)(cc) -= f * a(p)(cc)
          bvec(r) -= f * bvec(p)
        }
      }
      val sol = new Array[Double](k)
      for (p <- k - 1 to 0 by -1) {
        var s = bvec(p)
        for (cc <- p + 1 until k) s -= a(p)(cc) * sol(cc)
        sol(p) = s / a(p)(p)
      }
      val wD = wq.map(_.toDouble)
      val dot = (0 until k).map(i => sol(i) * wD(i)).sum
      val cos = dot / math.sqrt(sol.map(x => x * x).sum) /
        math.sqrt(wD.map(x => x * x).sum)
      assert(cos > 0.999, s"Jacobi direction vs dense solve: cos=$cos")
    }
  }
}
