package graft

import org.apache.spark.sql.functions._

/** Round-11 third-wave additions: Jarque–Bera, Cornish–Fisher mVaR,
  * Mann–Kendall trend, Yang–Zhang volatility, Flesch readability,
  * adjacent-pair cosine distribution, TPC-H Q14. Each query is checked
  * against an INDEPENDENT in-test recomputation (collected rows + plain
  * Scala math), not a restatement of the production expression.
  */
class Round11cSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** (event_type, day, ts-millis, event_id, value) rows; `day` comes
    * from Spark's to_date so the test groups on the same calendar the
    * query does, while every statistic below is recomputed in Scala.
    */
  private def dayRows(): Array[(String, String, Long, Long, Double)] =
    graft.sources.Tables.load(spark, dir, "events")
      .select($"event_type", to_date($"ts").cast("string").as("day"),
        unix_micros($"ts").as("tus"), $"event_id", $"value")
      .as[(String, String, Long, Long, Double)].collect()

  private def returnsBySeries(): Map[String, Array[Double]] =
    dayRows().groupBy(_._1).map { case (k, rs) =>
      val p = rs.sortBy(r => (r._3, r._4)).map(_._5)
      k -> p.sliding(2).map { case Array(a, b) => b / a - 1 }.toArray
    }

  private def r6(x: Double) = math.rint(x * 1e6) / 1e6

  private def moments(rets: Array[Double]): (Int, Double, Double) = {
    val m = rets.sum / rets.length
    val d = rets.map(_ - m)
    def cm(k: Int) = d.map(x => math.pow(x, k)).sum / d.length
    (rets.length, cm(3) / math.pow(cm(2), 1.5), cm(4) / (cm(2) * cm(2)) - 3)
  }

  test("eod_jarque_bera: n/6(S² + K²/4) from quantized moments") {
    val got = SparkEntry.queries("eod_jarque_bera")(spark, dir)
      .select($"event_type", $"n", $"jb", $"reject")
      .as[(String, Long, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    for ((k, rets) <- returnsBySeries()) {
      val (n, sk0, ku0) = moments(rets)
      val (sk, ku) = (r6(sk0), r6(ku0))
      val jb = n / 6.0 * (sk * sk + ku * ku / 4.0)
      assert(got(k)._1 == n, s"$k n")
      assert(math.abs(got(k)._2 - jb) < 1e-4, s"$k jb ${got(k)._2} vs $jb")
      assert(got(k)._3 == (jb > 5.991464547107979), s"$k reject")
    }
  }

  test("eod_cornish_fisher: z_cf polynomial and mVaR = mu + z_cf*sd") {
    val got = SparkEntry.queries("eod_cornish_fisher")(spark, dir)
      .select($"event_type", $"z_cf", $"mvar_5")
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val z = -1.6448536269514722
    for ((k, rets) <- returnsBySeries()) {
      val (_, sk, ku) = moments(rets)
      val mu = rets.sum / rets.length
      val sd = math.sqrt(rets.map(x => (x - mu) * (x - mu)).sum / (rets.length - 1))
      val zcf = z + (z * z - 1) * sk / 6 + (z * z * z - 3 * z) * ku / 24 -
        (2 * z * z * z - 5 * z) * sk * sk / 36
      assert(math.abs(got(k)._1 - zcf) < 2e-6, s"$k zcf")
      assert(math.abs(got(k)._2 - (mu + zcf * sd)) < 2e-6, s"$k mvar")
    }
  }

  test("eod_mann_kendall: pairwise S on daily closes, corrected Z") {
    val got = SparkEntry.queries("eod_mann_kendall")(spark, dir)
      .select($"event_type", $"n_days", $"s_stat", $"z_stat", $"trend")
      .as[(String, Long, Long, Double, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val bySeries = dayRows().groupBy(_._1)
    for ((k, rs) <- bySeries) {
      val closes = rs.groupBy(_._2).toArray.sortBy(_._1).map { case (_, day) =>
        day.maxBy(r => (r._3, r._4))._5 // close = value at max (ts, id)
      }
      val n = closes.length
      var s = 0L
      for (i <- 0 until n; j <- i + 1 until n)
        s += java.lang.Math.signum(closes(j) - closes(i)).toLong
      val v = n * (n - 1.0) * (2.0 * n + 5.0) / 18.0
      val zv = if (s > 0) (s - 1.0) / math.sqrt(v)
        else if (s < 0) (s + 1.0) / math.sqrt(v) else 0.0
      val trend = if (zv > 1.959963984540054) "up"
        else if (zv < -1.959963984540054) "down" else "none"
      assert(got(k)._1 == n, s"$k n_days")
      assert(got(k)._2 == s, s"$k s_stat")
      assert(math.abs(got(k)._3 - zv) < 2e-6, s"$k z")
      assert(got(k)._4 == trend, s"$k trend")
    }
  }

  test("tick_yang_zhang: V_o + k·V_c + (1-k)·V_RS over daily OHLC") {
    val got = SparkEntry.queries("tick_yang_zhang")(spark, dir)
      .select($"event_type", $"n_days", $"yang_zhang_vol")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    for ((k, rs) <- dayRows().groupBy(_._1)) {
      val bars = rs.groupBy(_._2).toArray.sortBy(_._1).map { case (_, d) =>
        val srt = d.sortBy(r => (r._3, r._4))
        (srt.head._5, d.map(_._5).max, d.map(_._5).min, srt.last._5)
      }.filter(_._3 > 0)
      val linked = bars.sliding(2).collect {
        case Array((_, _, _, pc), (o, h, l, c)) =>
          (math.log(o / pc), math.log(c / o),
            math.log(h / o) * math.log(h / c) + math.log(l / o) * math.log(l / c))
      }.toArray
      val n = linked.length
      def varS(xs: Array[Double]) = {
        val m = xs.sum / xs.length
        xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)
      }
      val kf = 0.34 / (1.34 + (n + 1.0) / (n - 1.0))
      val yz = math.sqrt(varS(linked.map(_._1)) + kf * varS(linked.map(_._2)) +
        (1 - kf) * linked.map(_._3).sum / n)
      assert(got(k)._1 == n, s"$k n_days")
      assert(math.abs(got(k)._2 - yz) < 2e-6, s"$k yz ${got(k)._2} vs $yz")
    }
  }

  test("eod_cusum: prefix-sum closed form equals Page's recursion") {
    val got = SparkEntry.queries("eod_cusum")(spark, dir)
      .select($"event_type", $"max_cusum_pos", $"max_cusum_neg",
        $"n_breach_pos")
      .as[(String, Double, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    for ((k, rets) <- returnsBySeries()) {
      val mu = rets.sum / rets.length
      val sd = math.sqrt(rets.map(x => (x - mu) * (x - mu)).sum /
        (rets.length - 1))
      // The query quantizes centered returns and the 5σ threshold to
      // the 1e-6 grid before the cumulative windows (integer-exact
      // breach compares across engines); replay the same integer
      // recursion — the prefix-sum closed form is an exact identity
      // of Page's recursion over the quantized increments.
      val sdq = math.floor(sd * 5e6 + 0.5).toLong
      var (sp, sn, mp, mn) = (0L, 0L, 0L, 0L)
      var nbp = 0L
      for (x <- rets) {
        val dq = math.floor((x - mu) * 1e6 + 0.5).toLong
        sp = math.max(0L, sp + dq); sn = math.max(0L, sn - dq)
        mp = math.max(mp, sp); mn = math.max(mn, sn)
        if (sp > sdq) nbp += 1
      }
      assert(math.abs(got(k)._1 - mp / 1e6) < 1e-9,
        s"$k pos ${got(k)._1} vs ${mp / 1e6}")
      assert(math.abs(got(k)._2 - mn / 1e6) < 1e-9, s"$k neg")
      assert(got(k)._3 == nbp, s"$k breaches")
    }
  }

  test("eod_newey_west: Bartlett-weighted long-run variance ratio") {
    val got = SparkEntry.queries("eod_newey_west")(spark, dir)
      .select($"event_type", $"nw_ratio", $"tstat_nw")
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    for ((k, rets) <- returnsBySeries()) {
      val n = rets.length
      val mu = rets.sum / n
      val d = rets.map(_ - mu)
      def gamma(l: Int) =
        (l until n).map(t => d(t) * d(t - l)).sum / n
      val s2 = gamma(0) + (1 to 5).map(l =>
        2.0 * (1.0 - l / 6.0) * gamma(l)).sum
      assert(math.abs(got(k)._1 - s2 / gamma(0)) < 2e-6, s"$k ratio")
      assert(math.abs(got(k)._2 - mu / math.sqrt(s2 / n)) < 2e-6, s"$k t")
    }
  }

  test("ann_topk_sq8: clipped-code reconstruction then exact top-3") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val corpus = vecs.filter(_._1 >= 5)
    val dim = vecs.head._2.length
    val mns = (0 until dim).map(i => corpus.map(_._2(i)).min).toArray
    val mxs = (0 until dim).map(i => corpus.map(_._2(i)).max).toArray
    def recon(v: Array[Double]) = v.indices.map { i =>
      if (mxs(i) == mns(i)) mns(i)
      else {
        val c = math.min(math.max(math.floor(
          (v(i) - mns(i)) / (mxs(i) - mns(i)) * 255.0 + 0.5), 0.0), 255.0)
        mns(i) + c / 255.0 * (mxs(i) - mns(i))
      }
    }.toArray
    def cos(a: Array[Double], b: Array[Double]) = {
      def dot(x: Array[Double], y: Array[Double]) =
        x.zip(y).map { case (p, q) => p * q }.sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val want = vecs.filter(_._1 < 5).flatMap { case (qid, qv) =>
      val rq = recon(qv)
      corpus.map { case (nid, cv) => (qid, nid, cos(rq, recon(cv))) }
        .sortBy(t => (-t._3, t._2)).take(3).zipWithIndex
        .map { case ((q, nI, c), r) => (q, (r + 1).toLong) -> (nI, c) }
    }.toMap
    val got = SparkEntry.queries("ann_topk_sq8")(spark, dir)
      .select($"query_id", $"rnk", $"neighbor_id", $"cosine")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == want.size)
    for ((q, r, nId, c) <- got) {
      val (wn, wc) = want((q, r))
      assert(nId == wn, s"($q,$r) neighbor")
      assert(math.abs(c - wc) < 2e-6, s"($q,$r) cosine")
    }
  }

  test("text_readability: Flesch/FK from independent regex counts") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val got = SparkEntry.queries("text_readability")(spark, dir)
      .select($"doc_id", $"n_words", $"n_sents", $"n_sylls", $"flesch")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.length == docs.count(_._2.matches(".*[A-Za-z].*")))
    for ((id, w, sn, syl, fl) <- got.take(50)) {
      val t = docs(id)
      def cnt(p: String, s: String) =
        p.r.findAllIn(s).length
      val ew = cnt("[A-Za-z]+", t)
      val es = math.max(cnt("[.!?]+", t), 1)
      val ey = cnt("[aeiouy]+", t.toLowerCase)
      assert(w == ew && sn == es && syl == ey, s"doc $id counts")
      val efl = 206.835 - 1.015 * (ew.toDouble / es) - 84.6 * (ey.toDouble / ew)
      assert(math.abs(fl - efl) < 1e-3, s"doc $id flesch")
    }
  }

  test("embed_pair_sim: adjacent-id cosine histogram") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val qs = vecs.sliding(2).collect {
      case Array((i, va), (j, vb)) if j == i + 1 &&
        dot(va, va) > 0 && dot(vb, vb) > 0 =>
        math.floor(dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
          * 1e6 + 0.5).toLong
    }.toArray
    val want = qs.groupBy(q => math.floor(q.toDouble / 1e5).toLong)
      .map { case (b, g) => b -> (g.length.toLong, r6(g.sum.toDouble / 1e6 / g.length)) }
    val got = SparkEntry.queries("embed_pair_sim")(spark, dir)
      .select($"bin", $"n_pairs", $"avg_cos")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == want.keySet)
    for ((b, (n, a)) <- want) {
      assert(got(b)._1 == n, s"bin $b count")
      assert(math.abs(got(b)._2 - a) < 1e-6, s"bin $b avg")
    }
  }

  test("text_ttr: type-token ratio and Simpson D from scalar counts") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"source", $"text").as[(String, String)].collect()
    val want = docs.groupBy(_._1).map { case (src, ds) =>
      val toks = ds.flatMap(_._2.trim.split("\\s+")).filter(_.nonEmpty)
      val counts = toks.groupBy(identity).map(_._2.length.toLong)
      val n = toks.length.toLong
      src -> (n, counts.size.toLong,
        counts.map(c => c * (c - 1)).sum.toDouble / (n.toDouble * (n - 1)))
    }
    val got = SparkEntry.queries("text_ttr")(spark, dir)
      .select($"source", $"n_tokens", $"n_types", $"simpson_d")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.keySet == want.keySet)
    for ((s, (n, v, d)) <- want) {
      assert(got(s)._1 == n && got(s)._2 == v, s"$s counts")
      assert(math.abs(got(s)._3 - d) < 1e-6, s"$s simpson")
    }
  }

  test("corpus_gini matches the O(n²) mean-absolute-difference form") {
    val lens = spark.read.parquet(s"$dir/documents.parquet")
      .select($"source", $"n_chars").as[(String, Long)].collect()
    val got = SparkEntry.queries("corpus_gini")(spark, dir)
      .select($"source", $"gini").as[(String, Double)].collect().toMap
    for ((src, g) <- lens.groupBy(_._1)) {
      val x = g.map(_._2.toDouble)
      val n = x.length
      val mad = (for (a <- x; b <- x) yield math.abs(a - b)).sum
      val gini = mad / (2.0 * n * n * (x.sum / n))
      // rank form is the population Gini up to the (n-1)/n convention:
      // G_rank = (2Σr·x − (n+1)Σx)/(nΣx) equals Σ|xi−xj|/(2n²μ) exactly
      assert(math.abs(got(src) - gini) < 1e-5, s"$src ${got(src)} vs $gini")
    }
  }

  test("embed_norm_stats: per-label norm moments from scalar math") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"label".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val got = SparkEntry.queries("embed_norm_stats")(spark, dir)
      .select($"label".cast("long"), $"n", $"mean_norm", $"std_norm")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    for ((lbl, g) <- vecs.groupBy(_._1)) {
      val norms = g.map(v =>
        math.rint(math.sqrt(v._2.map(x => x * x).sum) * 1e6) / 1e6)
      val m = norms.sum / norms.length
      val sd = math.sqrt(norms.map(x => (x - m) * (x - m)).sum / norms.length)
      assert(got(lbl)._1 == norms.length, s"$lbl n")
      assert(math.abs(got(lbl)._2 - m) < 2e-6, s"$lbl mean")
      assert(math.abs(got(lbl)._3 - sd) < 2e-6, s"$lbl std")
    }
  }

  test("rel_tpch_q19: disjunctive predicate from an independent scan") {
    val parts = spark.read.parquet(s"$dir/part.parquet")
      .select($"p_partkey", $"p_brand", $"p_size")
      .as[(Long, String, Int)].collect()
      .map(p => p._1 -> (p._2, p._3)).toMap
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice", $"l_discount")
      .as[(Long, Double, Double, Double)].collect()
    val hits = li.filter { r =>
      val (b, sz) = parts(r._1); val q = r._2
      (b == "Brand#3" && sz >= 1 && sz <= 15 && q >= 1 && q <= 11) ||
      (b == "Brand#14" && sz >= 10 && sz <= 30 && q >= 10 && q <= 20) ||
      (b == "Brand#25" && sz >= 20 && sz <= 50 && q >= 20 && q <= 30)
    }
    val rev = hits.map(r => BigDecimal(r._3 * (1.0 - r._4))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum
    val got = SparkEntry.queries("rel_tpch_q19")(spark, dir)
      .select($"revenue", $"n_items").as[(Double, Long)].collect().head
    assert(got._2 == hits.length, "n_items")
    assert(math.abs(got._1 - rev.toDouble) < 0.02, "revenue")
  }

  test("rel_grouping_sets: three set aggregations, subtotals = ALL") {
    val rows = SparkEntry.queries("rel_grouping_sets")(spark, dir)
      .select($"seg", $"pri", $"n_orders").as[(String, String, Long)]
      .collect()
    val fine = rows.filter(r => r._1 != "ALL" && r._2 != "ALL")
    val bySeg = rows.filter(r => r._1 != "ALL" && r._2 == "ALL")
      .map(r => r._1 -> r._3).toMap
    val byPri = rows.filter(r => r._1 == "ALL" && r._2 != "ALL")
      .map(r => r._2 -> r._3).toMap
    assert(rows.length == fine.length + bySeg.size + byPri.size,
      "no grand-total row in the declared set list")
    for ((seg, n) <- bySeg)
      assert(fine.filter(_._1 == seg).map(_._3).sum == n, s"seg $seg")
    for ((pri, n) <- byPri)
      assert(fine.filter(_._2 == pri).map(_._3).sum == n, s"pri $pri")
    assert(bySeg.values.sum == byPri.values.sum, "both partitions cover all")
  }

  test("rel_tpch_q14: promo share from an independent row scan") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_partkey", $"l_extendedprice", $"l_discount",
        $"l_shipdate".cast("string"))
      .as[(Long, Double, Double, String)].collect()
      .filter(r => r._4 >= "1997-09-01" && r._4 < "1997-10-01")
    val promo = spark.read.parquet(s"$dir/part.parquet")
      .select($"p_partkey", $"p_type").as[(Long, String)].collect()
      .filter(_._2 == "PROMO").map(_._1).toSet
    val rev = li.map(r => BigDecimal(r._2 * (1.0 - r._3))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP))
    val promoRev = li.zip(rev).collect { case (r, v) if promo(r._1) => v }.sum
    val total = rev.sum
    val got = SparkEntry.queries("rel_tpch_q14")(spark, dir)
      .select($"promo_revenue_pct", $"total_revenue", $"n_items")
      .as[(Double, Double, Long)].collect().head
    assert(got._3 == li.length, "n_items")
    assert(math.abs(got._2 - total.toDouble) < 0.02, "total")
    assert(math.abs(got._1 - 100.0 * (promoRev / total).toDouble) < 1e-4,
      "promo pct")
  }
}
