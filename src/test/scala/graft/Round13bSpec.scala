package graft

import org.apache.spark.sql.functions._

/** Round-13 second wave: Markov removal-effect attribution, cluster
  * purity/NMI, kNN symmetry, depth imbalance, bigram concentration
  * and the Bloom-FPR harness. Independent recomputations (exact
  * linear-system solve for the chain, JVM recounts for the rest) or
  * implementation-free invariants.
  */
class Round13bSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("events_markov_attribution: matches an exact absorption solve") {
    // sf0.001 (5 transient states), then seeded random-journey twins
    // with 8 and 16 — past the oracle's 7-state grid
    val inputs = Seq(graft.sources.Tables.load(spark, dir, "events") -> 5,
      Round13bSpec.randomJourneys(spark, nChannels = 7, seed = 8) -> 8,
      Round13bSpec.randomJourneys(spark, nChannels = 15, seed = 16) -> 16)
    for ((ev, nStates) <- inputs) {
      val rows = ev.select($"user_id", unix_micros($"ts"), $"event_id", $"event_type")
        .as[(Long, Long, Long, String)].collect()
      // journey construction mirroring the CONTRACT (cut at first
      // conversion, tail → null), then an EXACT Gaussian solve of the
      // absorption system — not the operator's iterative sweeps.
      val trans = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      rows.groupBy(_._1).foreach { case (_, es) =>
        val ordered = es.sortBy(e => (e._2, e._3)).map(_._4)
        val cutIdx = ordered.indexOf("purchase")
        val (touches, converted): (Seq[String], Boolean) =
          if (cutIdx >= 0) (ordered.take(cutIdx).toSeq, true)
          else (ordered.toSeq, false)
        val states = touches :+ (if (converted) "conv" else null)
        var prev = "start"
        states.foreach { st =>
          val cur = if (st == null) "null" else st
          trans((prev, cur)) += 1
          prev = cur
        }
      }
      val channels = trans.keys.flatMap(k => Seq(k._1, k._2))
        .filter(c => c != "start" && c != "conv" && c != "null").toSeq.distinct
      def solve(removed: Option[String]): Double = {
        val keep = trans.filter { case ((f, t), _) =>
          !removed.contains(f) && !removed.contains(t) }
        val totals = trans.toSeq.groupBy(_._1._1)
          .map { case (f, xs) => f -> xs.map(_._2).sum } // ORIGINAL totals
        val states = ("start" +: channels.filterNot(removed.contains)).toArray
        val idx = states.zipWithIndex.toMap
        val n = states.length
        // x = b + A x  ⇒  (I − A) x = b
        val a = Array.fill(n, n)(0.0); val b = Array.fill(n)(0.0)
        keep.foreach { case ((f, t), c) =>
          if (idx.contains(f)) {
            val p = c.toDouble / totals(f)
            if (t == "conv") b(idx(f)) += p
            else if (idx.contains(t)) a(idx(f))(idx(t)) += p
          }
        }
        val m = Array.tabulate(n, n)((i, j) => (if (i == j) 1.0 else 0.0) - a(i)(j))
        // Gaussian elimination
        for (col <- 0 until n) {
          val piv = (col until n).maxBy(r => math.abs(m(r)(col)))
          val tmp = m(col); m(col) = m(piv); m(piv) = tmp
          val tb = b(col); b(col) = b(piv); b(piv) = tb
          for (r <- 0 until n if r != col && m(r)(col) != 0.0) {
            val f = m(r)(col) / m(col)(col)
            for (c2 <- 0 until n) m(r)(c2) -= f * m(col)(c2)
            b(r) -= f * b(col)
          }
        }
        b(idx("start")) / m(idx("start"))(idx("start"))
      }
      val pExact = solve(None)
      val out = graft.operators.Events.markovAttribution(ev, "purchase")
        .select($"channel", $"p_full", $"p_removed", $"removal_effect",
          $"attribution")
        .as[(String, Double, Double, Double, Double)].collect()
      assert(channels.size + 1 == nStates)
      assert(out.nonEmpty && out.length == channels.size,
        s"${out.length} of ${channels.size} channels")
      out.foreach { case (ch, pf, pr, re, _) =>
        // the operator now solves (I − Q)x = b directly (fixed-order
        // double Gaussian elimination), so it must agree with this
        // partial-pivoting solve to FP + the 1e-9 report grid
        assert(math.abs(pf - pExact) < 1e-6, s"p_full $pf vs exact $pExact")
        val prExact = solve(Some(ch))
        assert(math.abs(pr - prExact) < 1e-6, s"$ch p_removed $pr vs $prExact")
        assert(pr <= pf + 1e-9, s"$ch removal increased P")
        assert(re >= 0.0)
      }
      val attSum = out.map(_._5).sum
      assert(math.abs(attSum - 1.0) < 1e-3, s"attribution sums to $attSum")
    }
  }

  test("embed_cluster_purity: purity and NMI match a JVM contingency recount") {
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val asg = graft.operators.Cluster
      .kmeans(e, "vec_id", "embedding", k = 8, iters = 2)
      .select($"id", $"cluster").as[(Long, Long)].collect().toMap
    val labels = e.select($"vec_id", $"label".cast("long"))
      .as[(Long, Long)].collect().toMap
    val ct = asg.toSeq.groupBy { case (id, c) => (c, labels(id)) }
      .map { case (k, v) => k -> v.size.toLong }
    val n = ct.values.sum.toDouble
    val purity = ct.groupBy(_._1._1).map(_._2.values.max).sum / n
    val nc = ct.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val nl = ct.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    val mi = ct.map { case ((c, l), cnt) =>
      (cnt / n) * math.log(n * cnt / (nc(c).toDouble * nl(l)))
    }.sum
    val hC = nc.values.map(v => -(v / n) * math.log(v / n)).sum
    val hL = nl.values.map(v => -(v / n) * math.log(v / n)).sum
    val got = SparkEntry.queries("embed_cluster_purity")(spark, dir)
      .select($"n", $"purity", $"nmi").as[(Long, Double, Double)]
      .collect().head
    assert(got._1 == n.toLong)
    assert(math.abs(got._2 - purity) < 1e-5, s"purity ${got._2} vs $purity")
    assert(math.abs(got._3 - mi / math.sqrt(hC * hL)) < 1e-4,
      s"nmi ${got._3}")
  }

  test("ann_mutual_knn: matches a set recount of the same edge list") {
    val edges = graft.operators.Similarity
      .knnGraph(graft.sources.Tables.load(spark, dir, "embeddings"),
        "vec_id", "embedding", 3, 64, planes = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
    val set = edges.toSet
    val mutual = edges.count(e => set.contains((e._2, e._1)))
    val got = SparkEntry.queries("ann_mutual_knn")(spark, dir)
      .select($"n_edges", $"n_mutual", $"mutual_frac")
      .as[(Long, Long, Double)].collect().head
    assert(got._1 == edges.length && got._2 == mutual)
    assert(math.abs(got._3 -
      math.floor(mutual.toDouble / edges.length * 1e6 + 0.5) / 1e6) < 1e-9)
  }

  test("tick_depth_imbalance: one day's stats match a JVM recount") {
    val q = graft.sim.MarketSim
      .simulateQuotes(spark, "SIM", days = 2, ticksPerDay = 5000)
      .select($"day", $"bid_size", $"ask_size")
      .as[(Long, Long, Long)].collect().filter(_._1 == 0L)
    val imbs = q.map { case (_, bs, as_) =>
      math.floor((bs - as_).toDouble * 1e6 / (bs + as_).toDouble).toLong
    }
    val expMean = math.floor(imbs.sum.toDouble / imbs.length + 0.5) / 1e6
    val expFrac = math.floor(
      q.count(r => r._2 > r._3).toDouble / q.length * 1e6 + 0.5) / 1e6
    val got = SparkEntry.queries("tick_depth_imbalance")(spark, dir)
      .where($"day" === 0)
      .select($"n_quotes", $"mean_imbalance", $"bid_heavy_frac")
      .as[(Long, Double, Double)].collect().head
    assert(got._1 == q.length)
    assert(math.abs(got._2 - expMean) < 1e-9)
    assert(math.abs(got._3 - expFrac) < 1e-9)
  }

  test("corpus_ngram_coverage: one language matches a JVM recount") {
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select($"lang", $"text").as[(String, String)].collect()
    val lang = docs.head._1
    val grams = docs.filter(_._1 == lang).flatMap { case (_, t) =>
      val toks = t.trim.split("\\s+")
      if (toks.length < 2) Seq(toks.mkString(" "))
      else toks.sliding(2).map(_.mkString(" ")).toSeq
    }
    val counts = grams.groupBy(identity).map { case (g, v) => (g, v.size) }
    val total = counts.values.sum
    val top = counts.toSeq.sortBy { case (g, n) => (-n, g) }.take(100)
      .map(_._2).sum
    val exp = math.floor(top.toDouble / total * 1e6 + 0.5) / 1e6
    val got = SparkEntry.queries("corpus_ngram_coverage")(spark, dir)
      .where($"lang" === lang)
      .select($"total_bigrams", $"distinct_bigrams", $"top100_coverage")
      .as[(Long, Long, Double)].collect().head
    assert(got._1 == total, s"total ${got._1} vs $total")
    assert(got._2 == counts.size)
    assert(math.abs(got._3 - exp) < 1e-9, s"coverage ${got._3} vs $exp")
  }

  test("sketch_bloom_fpr: internally consistent and near theory") {
    val got = SparkEntry.queries("sketch_bloom_fpr")(spark, dir)
      .select($"n_inserted", $"n_set_bits", $"n_queries", $"n_false_hits",
        $"fpr_measured", $"fpr_theory")
      .as[(Long, Long, Long, Long, Double, Double)].collect().head
    val (nIns, nBits, nQ, nFp, meas, theo) = got
    assert(nQ == 20000L && nFp <= nQ && nBits <= 65536L && nBits <= 3 * nIns)
    assert(math.abs(meas -
      math.floor(nFp.toDouble / nQ * 1e6 + 0.5) / 1e6) < 1e-9)
    val expTheo = math.round(math.pow(
      1.0 - math.exp(nIns.toDouble * -3.0 / 65536.0), 3) * 1e6) / 1e6.toDouble
    assert(math.abs(theo - expTheo) < 1e-6)
    // the measured rate must sit near the estimate (loose band: the
    // estimate itself is approximate for dependent bits)
    assert(math.abs(meas - theo) < 0.1, s"measured $meas vs theory $theo")
  }
}

object Round13bSpec {
  /** An events table of seeded random journeys over `nChannels` touch
    * types ch_00.. plus 'purchase': 400 users, 1-12 events each, every
    * event a purchase with probability 0.15, so some journeys convert
    * (some more than once — the cut keeps the first) and the rest end
    * in null.
    */
  def randomJourneys(spark: org.apache.spark.sql.SparkSession,
                     nChannels: Int, seed: Long)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val rows = (0 until 400).flatMap { u =>
      (0 until 1 + rnd.nextInt(12)).map { i =>
        val ty = if (rnd.nextDouble() < 0.15) "purchase"
          else f"ch_${rnd.nextInt(nChannels)}%02d"
        ((u * 100 + i).toLong, java.sql.Timestamp.valueOf(t0.plusMinutes(i)),
          u.toLong, ty, 1.0, "{}")
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }
}
