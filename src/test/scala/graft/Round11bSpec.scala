package graft

import org.apache.spark.sql.functions._

/** Round-11 second-wave additions: Lo adjusted Sharpe, calendar
  * extremes, bipower variation, TPC-H Q5, decorrelated above-average
  * subquery. Each query is checked against an INDEPENDENT in-test
  * recomputation (collected rows + plain Scala math), not a
  * restatement of the production expression.
  */
class Round11bSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def rows(): Array[(String, java.sql.Timestamp, Long, Double)] =
    spark.read.parquet(s"$dir/events.parquet")
      .select($"event_type", $"ts", $"event_id", $"value")
      .as[(String, java.sql.Timestamp, Long, Double)]
      .collect()

  /** event_type → prices in (ts, event_id) order. */
  private def pricesBySeries(): Map[String, Array[Double]] =
    rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
    }

  private def mean(xs: Array[Double]) = xs.sum / xs.length
  private def sampStd(xs: Array[Double]) = {
    val m = mean(xs)
    math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1))
  }
  private def corr(a: Array[Double], b: Array[Double]): Double = {
    val (ma, mb) = (mean(a), mean(b))
    val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
    cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum *
      b.map(y => (y - mb) * (y - mb)).sum)
  }

  test("tick_bipower matches a scalar recomputation of RV/BV/jump share") {
    val got = SparkEntry.queries("tick_bipower")(spark, dir)
      .select($"event_type", $"rv", $"bv", $"jump_share")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val prices = pricesBySeries()
    assert(got.keySet == prices.keySet)
    for ((k, p) <- prices) {
      val lr = p.sliding(2).map { case Array(a, b) => math.log(b) - math.log(a) }.toArray
      val rv = lr.map(x => x * x).sum
      val bv = math.Pi / 2 * lr.sliding(2).map { case Array(a, b) => math.abs(b) * math.abs(a) }.sum
      val js = math.max(0.0, 1.0 - bv / rv)
      assert(math.abs(got(k)._1 - rv) < 2e-6, s"$k rv")
      assert(math.abs(got(k)._2 - bv) < 2e-6, s"$k bv")
      assert(math.abs(got(k)._3 - js) < 2e-6, s"$k jump")
    }
  }

  test("eod_sharpe_adj: Lo (2002) annualizer from the first five ACF lags") {
    val got = SparkEntry.queries("eod_sharpe_adj")(spark, dir)
      .select($"event_type", $"sharpe_iid", $"sharpe_adj")
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val rf = math.pow(1.05, 1.0 / 252) - 1.0
    for ((k, p) <- pricesBySeries()) {
      val r = p.sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
      val ex = r.map(_ - rf)
      val srp = mean(ex) / sampStd(ex)
      val rhos = (1 to 5).map(kk => corr(r.drop(kk), r.dropRight(kk)))
      val rs = (1 to 5).map(kk => (252 - kk) * rhos(kk - 1)).sum
      val iid = srp * math.sqrt(252.0)
      val adj = srp * 252.0 / math.sqrt(252.0 + 2.0 * rs)
      assert(math.abs(got(k)._1 - iid) < 2e-6, s"$k iid")
      assert(math.abs(got(k)._2 - adj) < 2e-6, s"$k adj")
    }
  }

  test("eod_extremes: best/worst tick and calendar-day returns") {
    val got = SparkEntry.queries("eod_extremes")(spark, dir)
      .select($"event_type", $"best_tick", $"worst_tick", $"best_day", $"worst_day")
      .as[(String, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val byType = rows().groupBy(_._1)
    for ((k, rs) <- byType) {
      val sorted = rs.sortBy(r => (r._2.getTime, r._3))
      val ticks = sorted.map(_._4).sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
      // day end-of-period price = value at max ts within the day
      val eods = sorted.groupBy(r => r._2.toLocalDateTime.toLocalDate)
        .toArray.sortBy(_._1.toString)
        .map { case (_, day) => day.maxBy(r => (r._2.getTime, r._3))._4 }
      val days = eods.sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
      assert(math.abs(got(k)._1 - ticks.max) < 2e-6, s"$k best_tick")
      assert(math.abs(got(k)._2 - ticks.min) < 2e-6, s"$k worst_tick")
      assert(math.abs(got(k)._3 - days.max) < 2e-6, s"$k best_day")
      assert(math.abs(got(k)._4 - days.min) < 2e-6, s"$k worst_day")
    }
  }

  test("rel_tpch_q5 matches an in-memory join recomputation") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select($"c_custkey", $"c_nationkey").as[(Long, Int)].collect().toMap
    val supp = spark.read.parquet(s"$dir/supplier.parquet")
      .select($"s_suppkey", $"s_nationkey").as[(Long, Int)].collect().toMap
    val nat = spark.read.parquet(s"$dir/nation.parquet")
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .as[(Int, String, Int)].collect()
    val reg = spark.read.parquet(s"$dir/region.parquet")
      .select($"r_regionkey", $"r_name").as[(Int, String)].collect().toMap
    val asiaNations = nat.filter(n => reg(n._3) == "ASIA")
      .map(n => n._1 -> n._2).toMap
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select($"o_orderkey", $"o_custkey").as[(Long, Long)].collect().toMap
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      .as[(Long, Long, Double, Double)].collect()
    val agg = collection.mutable.Map[String, (Double, Long)]()
    for ((ok, sk, price, disc) <- li) {
      val ck = orders(ok)
      val cn = cust(ck)
      if (asiaNations.contains(cn) && supp(sk) == cn) {
        val name = asiaNations(cn)
        val (r, c) = agg.getOrElse(name, (0.0, 0L))
        agg(name) = (r + price * (1.0 - disc), c + 1)
      }
    }
    val got = SparkEntry.queries("rel_tpch_q5")(spark, dir)
      .select($"n_name", $"revenue", $"n_items")
      .as[(String, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == agg.keySet.toSet)
    for ((k, (rev, n)) <- agg) {
      assert(math.abs(got(k)._1 - rev) < 0.02, s"$k revenue")
      assert(got(k)._2 == n, s"$k n_items")
    }
  }

  test("eod_ic: Spearman rank IC of lagged signal vs return, summarized") {
    val byType = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
    }
    val maxLen = byType.values.map(_.length).max
    val ics = (1 until maxLen).flatMap { i =>
      // period i: signal = ret(i-1), target = ret(i); all 5 series must cover i
      val present = byType.filter(_._2.length > i).toSeq
      if (present.size != 5) None
      else {
        val entries = present.map { case (k, r) => (k, r(i - 1), r(i)) }
        def ranksBy(key: ((String, Double, Double)) => Double) =
          entries.sortBy(e => (-key(e), e._1)).zipWithIndex
            .map { case (e, idx) => e._1 -> (idx + 1) }.toMap
        val rs = ranksBy(_._2); val rr = ranksBy(_._3)
        val d2 = entries.map(e => { val d = rs(e._1) - rr(e._1); d.toDouble * d }).sum
        Some(1.0 - 6.0 * d2 / 120.0)
      }
    }.toArray
    val got = SparkEntry.queries("eod_ic")(spark, dir)
      .select($"n_periods", $"mean_ic", $"ic_tstat", $"hit_rate")
      .as[(Long, Double, Double, Double)].collect().head
    assert(got._1 == ics.length)
    assert(math.abs(got._2 - mean(ics)) < 2e-6, "mean_ic")
    val t = mean(ics) / sampStd(ics) * math.sqrt(ics.length.toDouble)
    assert(math.abs(got._3 - t) < 2e-5, "ic_tstat")
    assert(math.abs(got._4 - ics.count(_ > 0).toDouble / ics.length) < 2e-6)
  }

  test("tick_corwin_schultz: high-low spread from non-overlapping day pairs") {
    val byType = rows().groupBy(_._1)
    val got = SparkEntry.queries("tick_corwin_schultz")(spark, dir)
      .select($"event_type", $"n_pairs", $"cs_spread")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val k = 3.0 - 2.0 * math.sqrt(2.0)
    for ((et, rs) <- byType) {
      val days = rs.groupBy(_._2.toLocalDateTime.toLocalDate).toArray
        .sortBy(_._1.toString)
        .map { case (_, d) => (d.map(_._4).max, d.map(_._4).min) }
      val pairs = days.grouped(2).filter(_.length == 2).map { g =>
        val (h1, l1) = g(0); val (h2, l2) = g(1)
        val beta = math.pow(math.log(h1 / l1), 2) + math.pow(math.log(h2 / l2), 2)
        val gamma = math.pow(math.log(math.max(h1, h2) / math.min(l1, l2)), 2)
        val alpha = (math.sqrt(2 * beta) - math.sqrt(beta)) / k - math.sqrt(gamma / k)
        math.max(0.0, 2.0 * (math.exp(alpha) - 1.0) / (1.0 + math.exp(alpha)))
      }.toArray
      assert(got(et)._1 == pairs.length, s"$et n_pairs")
      assert(math.abs(got(et)._2 - mean(pairs)) < 2e-6, s"$et cs_spread")
    }
  }

  test("eod_inverse_vol: next-block weights ∝ 1/vol, exact composite") {
    val byType = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
    }
    // per (type, block): (vol, meanRet) over complete 21-row blocks
    val blocks = byType.map { case (k, r) =>
      k -> r.grouped(21).filter(_.length == 21).toArray.map { b =>
        (sampStd(b), mean(b))
      }
    }
    val got = SparkEntry.queries("eod_inverse_vol")(spark, dir)
      .select($"block", $"event_type", $"weight", $"asset_ret", $"port_ret")
      .as[(Long, String, Double, Double, Double)].collect()
    assert(got.nonEmpty)
    for (b <- got.map(_._1).distinct) {
      val rows = got.filter(_._1 == b)
      assert(rows.length == 5, s"block $b arity")
      assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-5, s"block $b Σw")
      val inv = blocks.map { case (k, bl) => k -> 1.0 / bl(b.toInt - 1)._1 }
      val tot = inv.values.sum
      var port = 0.0
      for ((_, et, w, ar, _) <- rows) {
        val expW = inv(et) / tot
        assert(math.abs(w - expW) < 1e-4, s"block $b $et weight")
        val expR = blocks(et)(b.toInt)._2
        assert(math.abs(ar - expR) < 2e-6, s"block $b $et asset_ret")
        port += expW * expR
      }
      assert(math.abs(rows.head._5 - port) < 1e-4, s"block $b port_ret")
    }
  }

  test("dedup_canonical keeps the longest (then lowest-id) member per cluster") {
    val members = SparkEntry.queries("dedup_clusters")(spark, dir)
      .select($"id", $"cluster_id").as[(Long, Long)].collect()
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    // replicate the planted-duplicate corpus lengths
    val lens = collection.mutable.Map[Long, Int]()
    for ((id, t) <- base) {
      lens(id) = t.length
      if (id % 50 == 0) lens(id + 1000000) = t.length + 4
      if (id % 97 == 0) lens(id + 2000000) = t.length
    }
    val got = SparkEntry.queries("dedup_canonical")(spark, dir)
      .select($"cluster_id", $"canonical_id", $"cluster_size", $"n_removed")
      .as[(Long, Long, Long, Long)].collect()
    val byCluster = members.groupBy(_._2)
    assert(got.length == byCluster.size)
    for ((cid, canon, size, removed) <- got) {
      val ids = byCluster(cid).map(_._1)
      assert(size == ids.length && removed == size - 1, s"cluster $cid size")
      val expect = ids.minBy(id => (-lens(id), id))
      assert(canon == expect, s"cluster $cid canonical")
    }
  }

  test("ann_hubness is the in-degree histogram of the kNN graph") {
    val edges = SparkEntry.queries("ann_knn_graph")(spark, dir)
      .select($"neighbor_id").as[Long].collect()
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val degOf = edges.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val hist = collection.mutable.Map[Long, Long]()
    val allVecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id").as[Long].collect()
    for (v <- allVecs) {
      val d = degOf.getOrElse(v, 0L)
      hist(d) = hist.getOrElse(d, 0L) + 1
    }
    val got = SparkEntry.queries("ann_hubness")(spark, dir)
      .select($"in_deg", $"n_nodes").as[(Long, Long)].collect().toMap
    assert(got == hist.toMap)
    assert(got.values.sum == nVecs)
  }

  test("text_fertility: exact integer token/char ratios per language") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"lang", $"text").as[(String, String)].collect()
    val bpeRe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]".r
    val expect = docs.groupBy(_._1).map { case (lang, ds) =>
      val ws = ds.map(d => d._2.trim.split("\\s+", -1).length.toLong).sum
      val bpe = ds.map(d => bpeRe.findAllIn(d._2).length.toLong).sum
      val nc = ds.map(_._2.length.toLong).sum
      lang -> (ds.length.toLong, ws, bpe, bpe.toDouble / ws, bpe.toDouble * 100 / nc)
    }
    val got = SparkEntry.queries("text_fertility")(spark, dir)
      .select($"lang", $"n_docs", $"ws_tokens", $"bpe_tokens",
        $"tokens_per_word", $"tokens_per_100chars")
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    assert(got.keySet == expect.keySet.toSet)
    for ((k, e) <- expect) {
      assert(got(k)._1 == e._1 && got(k)._2 == e._2 && got(k)._3 == e._3, s"$k counts")
      assert(math.abs(got(k)._4 - e._4) < 2e-6, s"$k per word")
      assert(math.abs(got(k)._5 - e._5) < 2e-6, s"$k per 100c")
    }
  }

  test("embed_centroid_outliers: top-3 farthest from label centroid") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Array[Float])].collect()
    val got = SparkEntry.queries("embed_centroid_outliers")(spark, dir)
      .select($"label", $"rnk", $"vec_id", $"dist")
      .as[(Int, Long, Long, Double)].collect()
    for ((label, group) <- vecs.groupBy(_._2)) {
      val dim = group.head._3.length
      val cen = (0 until dim).map(p => group.map(_._3(p).toDouble).sum / group.length)
      val dists = group.map { case (id, _, v) =>
        id -> math.sqrt((0 until dim).map(p => {
          val d = v(p) - cen(p); d * d
        }).sum)
      }
      val top = dists.sortBy { case (id, d) => (-d, id) }.take(3)
      val gotL = got.filter(_._1 == label).sortBy(_._2)
      assert(gotL.map(_._3).toSeq == top.map(_._1).toSeq, s"label $label ids")
      for (((_, d), g) <- top.zip(gotL))
        assert(math.abs(g._4 - d) < 1e-4, s"label $label dist")
    }
  }

  test("corpus_boilerplate: cross-doc 5-gram fraction per source") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"source", $"text").as[(Long, String, String)].collect()
    def shingles(t: String): Set[String] = {
      val toks = t.trim.split("\\s+", -1)
      val m = math.max(toks.length - 4, 1)
      (0 until m).map(i => toks.slice(i, math.min(i + 5, toks.length)).mkString(" ")).toSet
    }
    val perDoc = docs.map { case (id, src, t) => (id, src, shingles(t)) }
    val docCount = collection.mutable.Map[String, Int]()
    for ((_, _, ss) <- perDoc; s <- ss)
      docCount(s) = docCount.getOrElse(s, 0) + 1
    val boiler = docCount.filter(_._2 >= 5).keySet
    val expect = perDoc.groupBy(_._2).map { case (src, ds) =>
      val nSh = ds.map(_._3.size.toLong).sum
      val nB = ds.map(_._3.count(boiler).toLong).sum
      src -> (ds.length.toLong, nSh, nB, nB.toDouble / nSh)
    }
    val got = SparkEntry.queries("corpus_boilerplate")(spark, dir)
      .select($"source", $"n_docs", $"n_shingles", $"n_boiler", $"boiler_frac")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got.keySet == expect.keySet.toSet)
    for ((k, e) <- expect) {
      assert(got(k)._1 == e._1 && got(k)._2 == e._2 && got(k)._3 == e._3, s"$k counts")
      assert(math.abs(got(k)._4 - e._4) < 2e-6, s"$k frac")
    }
  }

  test("eod_k_ratio: OLS slope/SE of the log equity curve") {
    val got = SparkEntry.queries("eod_k_ratio")(spark, dir)
      .select($"event_type", $"n", $"slope", $"t_stat", $"k_ratio")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    for ((k, p) <- pricesBySeries()) {
      val y = p.filter(_ > 0).map(math.log)
      val n = y.length
      val x = (1 to n).map(_.toDouble).toArray
      val (sx, sy) = (x.sum, y.sum)
      val sxy = x.zip(y).map { case (a, b) => a * b }.sum
      val sx2 = x.map(a => a * a).sum
      val b = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
      val a = (sy - b * sx) / n
      val ss = y.zip(x).map { case (yy, xx) => val e = yy - a - b * xx; e * e }.sum
      val se = math.sqrt((ss / (n - 2)) / (sx2 - sx * sx / n))
      assert(got(k)._1 == n, s"$k n")
      assert(math.abs(got(k)._2 - b) < 1e-7, s"$k slope")
      assert(math.abs(got(k)._3 - b / se) < 1e-3, s"$k t_stat")
      assert(math.abs(got(k)._4 - b / se / math.sqrt(n.toDouble)) < 1e-4, s"$k k_ratio")
    }
  }

  test("corpus_lang_confusion is the cell count of declared × predicted") {
    val pred = SparkEntry.queries("text_lang_id")(spark, dir)
      .select($"doc_id", $"lang_pred").as[(Long, String)].collect().toMap
    val declared = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"lang").as[(Long, String)].collect()
    val expect = declared.groupBy { case (id, l) => (l, pred(id)) }
      .view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("corpus_lang_confusion")(spark, dir)
      .select($"lang", $"lang_pred", $"n").as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == expect)
  }

  test("streaming_bipower equals a quantized-integer batch recomputation") {
    val byType = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.filter(_._4 > 0).sortBy(_._3).map(_._4) // order by event_id
    }
    val got = SparkEntry.queries("streaming_bipower")(spark, dir)
      .select($"symbol", $"n", $"rv", $"bv", $"jump_share")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    for ((k, p) <- byType) {
      val lr = p.sliding(2).map { case Array(a, b) => math.log(b / a) }.toArray
      val qr = lr.map(x => math.floor(x * x * 1e12 + 0.5).toLong).sum
      val qb = lr.sliding(2).map { case Array(a, b) =>
        math.floor(math.abs(b) * math.abs(a) * 1e12 + 0.5).toLong
      }.sum
      val rv0 = qr.toDouble / 1e12
      val bv0 = math.Pi / 2 * (qb.toDouble / 1e12)
      assert(got(k)._1 == lr.length, s"$k n")
      assert(math.abs(got(k)._2 - rv0) < 2e-6, s"$k rv")
      assert(math.abs(got(k)._3 - bv0) < 2e-6, s"$k bv")
      assert(math.abs(got(k)._4 - math.max(0.0, 1.0 - bv0 / rv0)) < 2e-6, s"$k jump")
    }
  }

  test("stats_ks_test: two-sample KS vs the view benchmark") {
    val rets = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
    }
    val bench = rets("view").sorted
    val got = SparkEntry.queries("stats_ks_test")(spark, dir)
      .select($"event_type", $"n_a", $"n_b", $"ks_d", $"p_value")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got.keySet == rets.keySet - "view")
    for ((k, ra) <- rets if k != "view") {
      val a = ra.sorted
      // D over the pooled sample points
      val pool = (a ++ bench).distinct.sorted
      val d = pool.map { x =>
        val fa = a.count(_ <= x).toDouble / a.length
        val fb = bench.count(_ <= x).toDouble / bench.length
        math.abs(fa - fb)
      }.max
      assert(got(k)._1 == a.length && got(k)._2 == bench.length, s"$k n")
      assert(math.abs(got(k)._3 - d) < 1e-5, s"$k D")
      val lam = d * math.sqrt(a.length.toDouble * bench.length / (a.length + bench.length))
      val p = math.min(1.0, 2.0 * math.exp(-2.0 * lam * lam))
      assert(math.abs(got(k)._4 - p) < 1e-4, s"$k p")
    }
  }

  test("eod_hm_timing: Henriksson-Merton 3-var OLS vs normal-equation solve") {
    val rets = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
    }
    val rb = rets("view")
    val got = SparkEntry.queries("eod_hm_timing")(spark, dir)
      .select($"pair_id", $"n", $"alpha", $"beta", $"gamma")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    for ((k, ra) <- rets if k != "view") {
      val n = math.min(ra.length, rb.length)
      val y = ra.take(n); val x1 = rb.take(n)
      val x2 = x1.map(math.max(_, 0.0))
      val (s1, s2, sy) = (x1.sum, x2.sum, y.sum)
      val s11 = x1.map(v => v * v).sum
      val s12 = x1.zip(x2).map { case (a, b) => a * b }.sum
      val s22 = x2.map(v => v * v).sum
      val s1y = x1.zip(y).map { case (a, b) => a * b }.sum
      val s2y = x2.zip(y).map { case (a, b) => a * b }.sum
      val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
        s2 * (s1 * s12 - s11 * s2)
      val detA = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
        s2 * (s1y * s12 - s11 * s2y)
      val detB = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
        s2 * (s1 * s2y - s1y * s2)
      val detG = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
        sy * (s1 * s12 - s11 * s2)
      assert(got(k)._1 == n, s"$k n")
      assert(math.abs(got(k)._2 - detA / det) < 1e-5, s"$k alpha")
      assert(math.abs(got(k)._3 - detB / det) < 1e-3, s"$k beta")
      assert(math.abs(got(k)._4 - detG / det) < 1e-3, s"$k gamma")
    }
  }

  test("embed_silhouette: centroid-based simplified silhouette per label") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Array[Float])].collect()
    val dim = vecs.head._3.length
    val cents = vecs.groupBy(_._2).map { case (l, g) =>
      l -> (0 until dim).map(p => g.map(_._3(p).toDouble).sum / g.length).toArray
    }
    val expect = vecs.groupBy(_._2).map { case (l, g) =>
      val sils = g.map { case (_, _, v) =>
        def dist(c: Array[Double]) =
          math.sqrt((0 until dim).map(p => { val d = v(p) - c(p); d * d }).sum)
        val a = dist(cents(l))
        val b = cents.filter(_._1 != l).values.map(dist).min
        (b - a) / math.max(a, b)
      }
      l -> (g.length.toLong, sils.sum / sils.length,
        sils.count(_ < 0).toLong)
    }
    val got = SparkEntry.queries("embed_silhouette")(spark, dir)
      .select($"label", $"n_vecs", $"mean_silhouette", $"n_misplaced")
      .as[(Int, Long, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.keySet == expect.keySet.toSet)
    for ((l, e) <- expect) {
      assert(got(l)._1 == e._1, s"label $l n")
      assert(math.abs(got(l)._2 - e._2) < 1e-4, s"label $l mean")
      assert(got(l)._3 == e._3, s"label $l misplaced")
    }
  }

  test("eod_rachev: gain-tail over loss-tail means with R-7 cuts") {
    def r7(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted
      val h = (s.length - 1) * p
      val lo = h.toInt
      if (lo + 1 >= s.length) s(lo)
      else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
    val got = SparkEntry.queries("eod_rachev")(spark, dir)
      .select($"event_type", $"gain_tail", $"loss_tail", $"rachev")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val rets = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
    }
    for ((k, r) <- rets) {
      val v5 = r7(r, 0.05); val g95 = r7(r, 0.95)
      val gain = r.filter(_ >= g95); val loss = r.filter(_ <= v5)
      val gm = gain.sum / gain.length; val lm = loss.sum / loss.length
      assert(math.abs(got(k)._1 - gm) < 2e-6, s"$k gain")
      assert(math.abs(got(k)._2 - lm) < 2e-6, s"$k loss")
      assert(math.abs(got(k)._3 - gm / -lm) < 2e-5, s"$k rachev")
    }
  }

  test("rel_tpch_q10 matches an in-memory recomputation") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select($"c_custkey", $"c_name", $"c_nationkey")
      .as[(Long, String, Int)].collect().map(c => c._1 -> (c._2, c._3)).toMap
    val natName = spark.read.parquet(s"$dir/nation.parquet")
      .select($"n_nationkey", $"n_name").as[(Int, String)].collect().toMap
    val lo = java.sql.Timestamp.valueOf("1997-10-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val ordersQ = spark.read.parquet(s"$dir/orders.parquet")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
      .as[(Long, Long, java.sql.Timestamp)].collect()
      .filter(o => !o._3.before(lo) && o._3.before(hi))
      .map(o => o._1 -> o._2).toMap
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_orderkey", $"l_returnflag", $"l_extendedprice", $"l_discount")
      .as[(Long, String, Double, Double)].collect()
    val agg = collection.mutable.Map[Long, (Double, Long)]()
    for ((ok, rf, price, disc) <- li if rf == "R"; ck <- ordersQ.get(ok)) {
      val (r, c) = agg.getOrElse(ck, (0.0, 0L))
      agg(ck) = (r + price * (1.0 - disc), c + 1)
    }
    val top = agg.toArray.sortBy { case (ck, (r, _)) => (-r, ck) }.take(20)
    val got = SparkEntry.queries("rel_tpch_q10")(spark, dir)
      .select($"c_custkey", $"c_name", $"n_name", $"revenue", $"n_items")
      .as[(Long, String, String, Double, Long)].collect()
    assert(got.length == top.length)
    for (((ck, (r, c)), g) <- top.zip(got)) {
      assert(g._1 == ck, s"custkey order")
      assert(g._2 == cust(ck)._1 && g._3 == natName(cust(ck)._2), s"$ck dims")
      assert(math.abs(g._4 - r) < 0.02 && g._5 == c, s"$ck rev")
    }
  }

  test("embed_dim_variance: variance spectrum and participation ratio") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"embedding").as[Array[Float]].collect()
    val dim = vecs.head.length
    val lams = (0 until dim).map { p =>
      val xs = vecs.map(_(p).toDouble)
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }.toArray
    val got = SparkEntry.queries("embed_dim_variance")(spark, dir)
      .select($"n_dims", $"total_var", $"max_var", $"effective_dim")
      .as[(Long, Double, Double, Double)].collect().head
    assert(got._1 == dim)
    assert(math.abs(got._2 - lams.sum) < 1e-4, "total")
    assert(math.abs(got._3 - lams.max) < 1e-5, "max")
    val eff = lams.sum * lams.sum / lams.map(l => l * l).sum
    assert(math.abs(got._4 - eff) < 1e-3, "effective dim")
  }

  test("asof_join_nearest picks the closer side, ties to backward") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select($"event_type", $"user_id", $"ts", $"event_id", $"value")
      .as[(String, Long, java.sql.Timestamp, Long, Double)].collect()
    val quotes = ev.filter(_._1 == "view").groupBy(_._2)
    val got = SparkEntry.queries("asof_join_nearest")(spark, dir)
      .select($"event_id", $"quote_id", $"dist_us")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    for ((_, uid, ts, eid, _) <- ev.filter(_._1 == "purchase")) {
      val qs = quotes.getOrElse(uid, Array.empty)
      if (qs.isEmpty) assert(got(eid)._1.isEmpty, s"$eid no-quote")
      else {
        val before = qs.filter(q => us(q._3) <= us(ts))
        val after = qs.filter(q => us(q._3) >= us(ts))
        // backward = latest at-or-before; forward = earliest at-or-after
        val b = if (before.nonEmpty) Some(before.maxBy(q => (us(q._3), q._4))) else None
        val f = if (after.nonEmpty) Some(after.minBy(q => (us(q._3), q._4))) else None
        val bAge = b.map(q => us(ts) - us(q._3))
        val fAge = f.map(q => us(q._3) - us(ts))
        val expect = (b, f) match {
          case (Some(bb), Some(ff)) =>
            if (bAge.get <= fAge.get) (bb._4, bAge.get) else (ff._4, fAge.get)
          case (Some(bb), None) => (bb._4, bAge.get)
          case (None, Some(ff)) => (ff._4, fAge.get)
          case _ => (0L, 0L)
        }
        assert(got(eid)._2.contains(expect._2), s"$eid dist")
      }
    }
  }

  test("df_upsample_ffill: hourly grid carries the last prior observation") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select($"event_type", $"ts", $"event_id", $"value")
      .as[(String, java.sql.Timestamp, Long, Double)].collect()
    val got = SparkEntry.queries("df_upsample_ffill")(spark, dir)
      .select($"event_type", $"ts_us", $"src_event_id", $"value")
      .as[(String, Long, Option[Long], Option[Double])].collect()
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    for ((et, g) <- got.groupBy(_._1)) {
      val series = ev.filter(_._1 == et).sortBy(e => (us(e._2), e._3))
      val loUs = series.map(e => us(e._2)).min
      val hiUs = series.map(e => us(e._2)).max
      val lo = loUs - loUs % 3600000000L
      val nGrid = (hiUs - lo) / 3600000000L + 1
      assert(g.length == nGrid, s"$et grid size")
      for ((_, tsUs, srcId, v) <- g) {
        val atOrBefore = series.filter(e => us(e._2) <= tsUs)
        if (atOrBefore.isEmpty) assert(srcId.isEmpty, s"$et $tsUs empty")
        else {
          val last = atOrBefore.maxBy(e => (us(e._2), e._3))
          assert(srcId.contains(last._3), s"$et $tsUs src")
          assert(math.abs(v.get - last._4) < 2e-6, s"$et $tsUs value")
        }
      }
    }
  }

  test("eod_rolling_median: sliding 20-row R-7 quartiles") {
    def r7(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted
      val h = (s.length - 1) * p
      val lo = h.toInt
      if (lo + 1 >= s.length) s(lo)
      else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
    val byType = rows().groupBy(_._1).map { case (k, rs) =>
      val sorted = rs.sortBy(r => (r._2.getTime, r._3))
      k -> (sorted.map(_._3),
        sorted.map(_._4).sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray)
    }
    val got = SparkEntry.queries("eod_rolling_median")(spark, dir)
      .select($"event_type", $"event_id", $"roll_median")
      .as[(String, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for ((et, (ids, rets)) <- byType) {
      // row i (0-based over the full series incl. the null-ret head row)
      for (i <- ids.indices) {
        // returns available in the frame (rows max(0, i-19)..i; ret for row j is rets(j-1))
        val fr = (math.max(0, i - 19) to i).filter(_ >= 1).map(j => rets(j - 1)).toArray
        val g = got((et, ids(i)))
        if (fr.isEmpty) assert(g.isEmpty, s"$et row $i")
        else assert(math.abs(g.get - r7(fr, 0.5)) < 2e-6, s"$et row $i median")
      }
    }
  }

  test("rel_tpch_q6: filter-aggregate forecast revenue") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_shipdate", $"l_discount", $"l_quantity", $"l_extendedprice")
      .as[(java.sql.Timestamp, Double, Double, Double)].collect()
    val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val sel = li.filter(l => !l._1.before(lo) && l._1.before(hi) &&
      l._2 >= 0.05 && l._2 <= 0.07 && l._3 < 24)
    val got = SparkEntry.queries("rel_tpch_q6")(spark, dir)
      .select($"revenue", $"n_items").as[(Double, Long)].collect().head
    assert(got._2 == sel.length)
    assert(math.abs(got._1 - sel.map(l => l._4 * l._2).sum) < 0.02)
  }

  test("eod_streaks: longest win/loss runs per series") {
    val got = SparkEntry.queries("eod_streaks")(spark, dir)
      .select($"event_type", $"max_win_streak", $"max_loss_streak")
      .as[(String, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val rets = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
    }
    def runs(r: Array[Double], up: Boolean): List[Int] = {
      val sgn = r.map(x => if (x > 0) 1 else if (x < 0) -1 else 0)
      val target = if (up) 1 else -1
      sgn.foldLeft(List.empty[Int]) { (acc, s) =>
        if (s == target) (acc.headOption.getOrElse(0) + 1) ::
          (if (acc.isEmpty) Nil else acc.tail)
        else 0 :: acc
      }.filter(_ > 0)
    }
    for ((k, r) <- rets) {
      val wins = runs(r, up = true); val losses = runs(r, up = false)
      assert(got(k)._1 == (if (wins.isEmpty) None else Some(wins.max.toLong)), s"$k win")
      assert(got(k)._2 == (if (losses.isEmpty) None else Some(losses.max.toLong)), s"$k loss")
    }
  }

  test("eod_spearman_matrix: Pearson on full-series time ranks") {
    val rets = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
    }
    def ranks(r: Array[Double]): Array[Double] = {
      val order = r.zipWithIndex.sortBy { case (v, i) => (v, i) }
      val out = new Array[Double](r.length)
      for ((p, rank) <- order.zipWithIndex) out(p._2) = rank + 1.0
      out
    }
    val got = SparkEntry.queries("eod_spearman_matrix")(spark, dir)
      .select($"type_a", $"type_b", $"spearman")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val keys = rets.keys.toArray.sorted
    for (i <- keys.indices; j <- i + 1 until keys.length) {
      val (a, b) = (rets(keys(i)), rets(keys(j)))
      val n = math.min(a.length, b.length)
      val (ra, rb) = (ranks(a).take(n), ranks(b).take(n))
      assert(math.abs(got((keys(i), keys(j))) - corr(ra, rb)) < 2e-5,
        s"${keys(i)}/${keys(j)}")
    }
  }

  test("ann_recall_vs_probes: recall is monotone in nProbe, exact ratio") {
    val got = SparkEntry.queries("ann_recall_vs_probes")(spark, dir)
      .select($"n_probe", $"n_queries", $"total_hits", $"recall")
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1, 2, 4))
    assert(got.forall(_._2 == 5))
    // recall must be the exact hits/(3·q) ratio and non-decreasing
    for (r <- got)
      assert(math.abs(r._4 - r._3.toDouble / (r._2 * 3)) < 1e-6)
    assert(got.sliding(2).forall { case Array(a, b) => a._3 <= b._3 })
    // at 4 probes this matches the standalone IVF op's hit count
    val ivf = SparkEntry.queries("ann_topk_ivf")(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val brute = SparkEntry.queries("ann_topk_bruteforce")(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(got.last._3 == (ivf & brute).size)
  }

  test("corpus_bigram_entropy: conditional entropy from bigram counts") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"source", $"text").as[(String, String)].collect()
    val got = SparkEntry.queries("corpus_bigram_entropy")(spark, dir)
      .select($"source", $"n_bigrams", $"h_cond")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    for ((src, ds) <- docs.groupBy(_._1)) {
      val bigrams = ds.flatMap { case (_, t) =>
        val toks = t.trim.split("\\s+", -1)
        val m = math.max(toks.length - 1, 1)
        (0 until m).map(i => toks.slice(i, math.min(i + 2, toks.length)).mkString(" "))
      }
      val cnt = bigrams.groupBy(identity).view.mapValues(_.length).toMap
      val ca = cnt.toSeq.groupBy(_._1.split(" ")(0))
        .view.mapValues(_.map(_._2).sum).toMap
      val n = bigrams.length
      val h = -cnt.map { case (bg, c) =>
        c.toDouble * math.log(c.toDouble / ca(bg.split(" ")(0)))
      }.sum / n
      assert(got(src)._1 == n, s"$src n")
      assert(math.abs(got(src)._2 - h) < 1e-4, s"$src H")
    }
  }

  test("eod_downside_capm: sign-conditioned betas") {
    val rets = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
    }
    val rb = rets("view")
    val got = SparkEntry.queries("eod_downside_capm")(spark, dir)
      .select($"pair_id", $"n_dn", $"beta_down", $"beta_up")
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    for ((k, ra) <- rets if k != "view") {
      val n = math.min(ra.length, rb.length)
      def beta(cond: Double => Boolean): (Long, Double) = {
        val pairs = ra.take(n).zip(rb.take(n)).filter(p => cond(p._2))
        val m = pairs.length
        val (sa, sb) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
        val sab = pairs.map(p => p._1 * p._2).sum
        val sbb = pairs.map(p => p._2 * p._2).sum
        (m.toLong, (m * sab - sa * sb) / (m * sbb - sb * sb))
      }
      val (nd, bd) = beta(_ < 0); val (_, bu) = beta(_ > 0)
      assert(got(k)._1 == nd, s"$k n_dn")
      assert(math.abs(got(k)._2 - bd) < 1e-3, s"$k beta_down")
      assert(math.abs(got(k)._3 - bu) < 1e-3, s"$k beta_up")
    }
  }

  test("stats_mann_whitney: midrank U and z vs a direct recomputation") {
    val rets = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }
        .map(r => math.floor(r * 1e6 + 0.5).toLong).toArray
    }
    val bench = rets("view")
    val got = SparkEntry.queries("stats_mann_whitney")(spark, dir)
      .select($"pair_id", $"na", $"nb", $"u_stat", $"z_stat")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    for ((k, a) <- rets if k != "view") {
      val pool = (a.map((_, 1)) ++ bench.map((_, 0))).sortBy(_._1)
      // midranks over the sorted pool
      val ranks = collection.mutable.Map[Long, Double]()
      var i = 0
      while (i < pool.length) {
        var j = i
        while (j < pool.length && pool(j)._1 == pool(i)._1) j += 1
        ranks(pool(i)._1) = (i + 1 + j).toDouble / 2.0
        i = j
      }
      val ra = a.map(ranks(_)).sum
      val (na, nb) = (a.length.toDouble, bench.length.toDouble)
      val u = ra - na * (na + 1) / 2
      val z = (u - na * nb / 2) / math.sqrt(na * nb * (na + nb + 1) / 12.0)
      assert(got(k)._1 == a.length && got(k)._2 == bench.length, s"$k n")
      assert(math.abs(got(k)._3 - u) < 1e-5, s"$k U")
      assert(math.abs(got(k)._4 - z) < 1e-4, s"$k z")
    }
  }

  test("stats_chi2_independence: source × lang chi-square") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"source", $"lang").as[(String, String)].collect()
    val obs = docs.groupBy(identity).view.mapValues(_.length).toMap
    val rt = docs.groupBy(_._1).view.mapValues(_.length).toMap
    val ct = docs.groupBy(_._2).view.mapValues(_.length).toMap
    val n = docs.length.toDouble
    val chi2 = obs.map { case ((s0, l0), o) =>
      val e = rt(s0) * ct(l0) / n
      (o - e) * (o - e) / e
    }.sum
    val got = SparkEntry.queries("stats_chi2_independence")(spark, dir)
      .select($"n_cells", $"dof", $"chi2").as[(Long, Long, Double)]
      .collect().head
    assert(got._1 == obs.size)
    assert(got._2 == (rt.size - 1).toLong * (ct.size - 1))
    assert(math.abs(got._3 - chi2) < 1e-4)
  }

  test("tick_volume_profile: hourly volume shares sum to 1") {
    val got = SparkEntry.queries("tick_volume_profile")(spark, dir)
      .select($"event_type", $"hr", $"vol", $"vol_share")
      .as[(String, Int, Long, Double)].collect()
    val ev = rows()
    for ((et, g) <- got.groupBy(_._1)) {
      val vols = ev.filter(_._1 == et)
        .groupBy(_._2.toLocalDateTime.getHour)
        .view.mapValues(_.map(r => r._3 % 100 + 1).sum).toMap
      assert(g.length == vols.size, s"$et hours")
      for ((_, hr, vol, share) <- g) {
        assert(vol == vols(hr), s"$et h$hr vol")
        assert(math.abs(share - vol.toDouble / vols.values.sum) < 2e-6)
      }
      assert(math.abs(g.map(_._4).sum - 1.0) < 1e-4, s"$et Σshare")
    }
  }

  test("mm_audio: framed RMS/ZCR from the md5-derived PCM payload") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    val got = SparkEntry.queries("mm_audio")(spark, dir)
      .select($"doc_id", $"frame_id", $"rms", $"zcr")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    for ((id, text) <- docs.take(50)) {
      val d = md.digest(text.getBytes("UTF-8"))
      val n = 256 + ((d(0) & 0xff) % 8) * 64
      val pcm = (0 until n).map(i =>
        ((d(i % 16) & 0xff) + i * ((d((i + 5) % 16) & 0xff) % 7)) % 256)
      for (f <- 0 until n / 64) {
        val fr = pcm.slice(f * 64, f * 64 + 64).map(_ - 128)
        val rms = math.sqrt(fr.map(s => s.toDouble * s).sum / 64)
        val zc = fr.sliding(2).count { case Seq(a, b) => (a >= 0) != (b >= 0) }
        val g = got((id, f.toLong))
        assert(math.abs(g._1 - rms) < 2e-6, s"doc $id frame $f rms")
        assert(math.abs(g._2 - zc.toDouble / 63) < 2e-6, s"doc $id frame $f zcr")
      }
    }
  }

  test("rel_large_orders: HAVING-threshold orders joined to dimensions") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity").as[(Long, Double)].collect()
    val bigKeys = li.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .filter(_._2 > 150).keys.toSet
    val got = SparkEntry.queries("rel_large_orders")(spark, dir)
      .select($"o_orderkey", $"total_qty").as[(Long, Double)].collect()
    assert(got.map(_._1).toSet == bigKeys)
    val qty = li.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    for ((ok, q) <- got) assert(math.abs(q - qty(ok)) < 0.02, s"order $ok")
  }

  test("eod_hill_tail: Hill estimator over the top-50 losses") {
    val rets = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
    }
    val got = SparkEntry.queries("eod_hill_tail")(spark, dir)
      .select($"event_type", $"k", $"hill_xi", $"tail_alpha")
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    for ((et, r) <- rets) {
      val losses = r.filter(_ < 0).map(x => -x).sortBy(-_)
      if (losses.length >= 51) {
        val xref = losses(50)
        val xi = losses.take(50).map(x => math.log(x / xref)).sum / 50
        assert(got(et)._1 == 50, s"$et k")
        assert(math.abs(got(et)._2 - xi) < 1e-4, s"$et xi")
        assert(math.abs(got(et)._3 - 1.0 / xi) < 1e-2, s"$et alpha")
      }
    }
  }

  test("eod_var_backtest: Kupiec LR from breach counts") {
    def r7(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted; val h = (s.length - 1) * p; val lo = h.toInt
      if (lo + 1 >= s.length) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
    val got = SparkEntry.queries("eod_var_backtest")(spark, dir)
      .select($"event_type", $"n", $"n_breach", $"lr_pof", $"reject")
      .as[(String, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val rets = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
    }
    for ((k, r) <- rets) {
      val cut = r7(r, 0.05)
      val x = r.count(_ < cut); val n = r.length
      val lr = -2.0 * ((n - x) * math.log(0.95) + x * math.log(0.05) -
        ((n - x) * math.log(1.0 - x.toDouble / n) +
          (if (x > 0) x * math.log(x.toDouble / n) else 0.0)))
      assert(got(k)._1 == n && got(k)._2 == x, s"$k counts")
      assert(math.abs(got(k)._3 - lr) < 1e-4, s"$k LR")
      assert(got(k)._4 == (lr > 3.841458820694124), s"$k reject")
    }
  }

  test("tick_runs_test: Wald-Wolfowitz z from sign runs") {
    val got = SparkEntry.queries("tick_runs_test")(spark, dir)
      .select($"event_type", $"n_pos", $"n_neg", $"n_runs", $"z_stat")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    for ((k, rs) <- rows().groupBy(_._1)) {
      val p = rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
      val sgn = p.sliding(2).map { case Array(a, b) =>
        if (b > a) 1 else if (b < a) -1 else 0
      }.filter(_ != 0).toArray
      val np = sgn.count(_ == 1); val nn = sgn.count(_ == -1)
      val runs = 1 + sgn.sliding(2).count { case Array(a, b) => a != b }
      val n = (np + nn).toDouble
      val e = 2.0 * np * nn / n + 1.0
      val v = 2.0 * np * nn * (2.0 * np * nn - n) / (n * n * (n - 1.0))
      assert(got(k)._1 == np && got(k)._2 == nn, s"$k counts")
      assert(got(k)._3 == runs, s"$k runs")
      assert(math.abs(got(k)._4 - (runs - e) / math.sqrt(v)) < 1e-4, s"$k z")
    }
  }

  test("eod_var_independence: Christoffersen LR from transition counts") {
    def r7(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted; val h = (s.length - 1) * p; val lo = h.toInt
      if (lo + 1 >= s.length) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
    val got = SparkEntry.queries("eod_var_independence")(spark, dir)
      .select($"event_type", $"n00", $"n01", $"n10", $"n11", $"lr_ind")
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    val rets = rows().groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        .sliding(2).map { case Array(a, b) => b / a - 1.0 }.toArray
    }
    for ((k, r) <- rets) {
      val cut = r7(r, 0.05)
      val br = r.map(x => if (x < cut) 1 else 0)
      val trans = br.sliding(2).toArray
      def cnt(a: Int, b: Int) = trans.count(t => t(0) == a && t(1) == b)
      val (n00, n01, n10, n11) = (cnt(0, 0), cnt(0, 1), cnt(1, 0), cnt(1, 1))
      val nT = (n00 + n01 + n10 + n11).toDouble
      val pi = (n01 + n11) / nT
      val p01 = n01.toDouble / (n00 + n01)
      val p11 = n11.toDouble / (n10 + n11)
      def t0(c: Int, x: Double) = if (c > 0) c * math.log(x) else 0.0
      val lr = -2.0 * (t0(n00 + n10, 1 - pi) + t0(n01 + n11, pi) -
        t0(n00, 1 - p01) - t0(n01, p01) - t0(n10, 1 - p11) - t0(n11, p11))
      val g = got(k)
      assert((g._1, g._2, g._3, g._4) ==
        (n00.toLong, n01.toLong, n10.toLong, n11.toLong), s"$k counts")
      assert(math.abs(g._5 - lr) < 1e-4, s"$k LR")
    }
  }

  test("rel_above_avg matches a per-customer scalar recomputation") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select($"o_custkey", $"o_totalprice").as[(Long, Double)].collect()
    val byCust = orders.groupBy(_._1)
    val expect = byCust.flatMap { case (ck, os) =>
      val avgP = os.map(_._2).sum / os.length
      val above = os.map(_._2).filter(_ > avgP)
      if (above.nonEmpty) Some(ck -> (above.length.toLong, above.sum)) else None
    }
    val got = SparkEntry.queries("rel_above_avg")(spark, dir)
      .select($"o_custkey", $"n_above", $"sum_above")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == expect.keySet.toSet)
    for ((k, (n, s)) <- expect) {
      assert(got(k)._1 == n, s"$k n_above")
      assert(math.abs(got(k)._2 - s) < 0.02, s"$k sum_above")
    }
  }
}
