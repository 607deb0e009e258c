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

  /** Jobs of one build and run of `name`, counted after a first build
    * so its tables' schemas are resolved (a cold first read of a file
    * set infers its schema: one more job, once per process).
    */
  private def run(name: String): Int = {
    SparkEntry.queries(name)(spark, dir)
    jobCount {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
  }

  test("wide-unroll queries stay within their job budgets") {
    // measured at sf0.001 on local[4] (AQE stage materializations),
    // tables warm: markov 4, each portfolio solver 5 — the one-row
    // array solves pin nothing and join nothing; embed_power_iter 27
    // and embed_whitening 25 (six one-row power steps over the one
    // `rows` pin), embed_mmr_rerank 3, embed_kmeans 10 and
    // embed_pq_trained 10 (the broadcast centroid row), ann_topk_ivfpq
    // 8. The older shapes, counted cold (one schema-inference job
    // more than warm): power_iter 45 and whitening 46 with the
    // per-iterate pins, MMR 21 with its two pins and pick/join chain,
    // k-means and PQ 12 with the per-vector argmin shuffle, IVF-PQ 15
    // with its cell and codebook pins.
    // Budgets leave +1, and sit BELOW measured + the smallest
    // regression (markov: +3 if its trans/position/score pins came
    // back, +24 sweeps; the solvers: +2 if the moments pin and the
    // position pin came back, +4..+6 per-iterate checkpoints; the
    // power iteration: +6 per-iterate pins; MMR: +2 pins). The k-means
    // and PQ budgets are no such wall: the old per-vector argmin
    // shuffle cost one job per iterate but saved the centroid-row
    // fold, so it fits their +1 headroom.
    val budgets = Seq(
      "events_markov_attribution" -> 5,
      "eod_tangency" -> 6,
      "eod_pca_factor" -> 6,
      "eod_risk_parity" -> 6,
      "embed_power_iter" -> 28,
      "embed_whitening" -> 26,
      "embed_mmr_rerank" -> 4,
      "embed_kmeans" -> 11,
      "embed_pq_trained" -> 11,
      "ann_topk_ivfpq" -> 9)
    val over = budgets.flatMap { case (name, budget) =>
      val n = run(name)
      info(s"$name: $n jobs (budget $budget)")
      if (n > budget) Some(s"$name ran $n jobs > budget $budget") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }
}
