package graft

/** Job-count regression guard for the queries whose bounded iterate
  * state lives on ONE row of array columns: the four k×k solves
  * (Markov absorption, tangency Jacobi, PCA power iteration, risk
  * parity), the power iteration behind embed_power_iter and
  * embed_whitening, the greedy MMR picks, and the Lloyd k-means /
  * product-quantization centroids. Each rewrite replaced per-iteration
  * materialization (pins, joins, per-sweep checkpoints — one-plus Spark
  * jobs each) with in-plan state that Catalyst cannot see as an
  * invariant, so this spec pins it: each query must complete within a
  * small fixed job budget. Bounds sit one job above the measured counts
  * — room for plan jitter (an AQE stage), below any regression that
  * brings back a pin or a per-iterate materialization.
  */
class Round14bSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def jobCount(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener events are posted asynchronously: drain the bus
      org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }

  private def run(name: String): Int = jobCount {
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
  }

  test("wide-unroll queries stay within their job budgets") {
    // measured at sf0.001 on local[4] (AQE stage materializations):
    // markov 5, each portfolio solver 6 — the one-row array solves pin
    // nothing and join nothing; embed_power_iter 28 and embed_whitening
    // 26 (six one-row power steps over the one `rows` pin; 45 and 46
    // with the per-iterate pins), embed_mmr_rerank 4 (21 with its two
    // pins and pick/join chain), embed_kmeans 11 and embed_pq_trained 11
    // (the broadcast centroid row; 12 with the per-vector argmin
    // shuffle), ann_topk_ivfpq 9 (15 with its cell and codebook pins).
    // Budgets leave +1, and sit BELOW measured + the smallest
    // regression (markov: +3 if its trans/position/score pins came
    // back, +24 sweeps; the solvers: +2 if the moments pin and the
    // position pin came back, +4..+6 per-iterate checkpoints; the
    // power iteration: +6 per-iterate pins; MMR: +2 pins). The k-means
    // and PQ budgets are no such wall: the old per-vector argmin
    // shuffle cost one job per iterate but saved the centroid-row
    // fold, so it fits their +1 headroom.
    val budgets = Seq(
      "events_markov_attribution" -> 6,
      "eod_tangency" -> 7,
      "eod_pca_factor" -> 7,
      "eod_risk_parity" -> 7,
      "embed_power_iter" -> 29,
      "embed_whitening" -> 27,
      "embed_mmr_rerank" -> 5,
      "embed_kmeans" -> 12,
      "embed_pq_trained" -> 12,
      "ann_topk_ivfpq" -> 10)
    val over = budgets.flatMap { case (name, budget) =>
      val n = run(name)
      info(s"$name: $n jobs (budget $budget)")
      if (n > budget) Some(s"$name ran $n jobs > budget $budget") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }
}
