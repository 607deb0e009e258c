package graft

/** Round-14 wave 2: job-count regression guard for the one-row
  * solvers. The rewrites of the four iterative-state queries (Markov
  * absorption, tangency Jacobi, PCA power iteration, risk parity)
  * replaced per-iteration materialization (one-plus Spark jobs per
  * sweep — 24 for Markov) with a single in-plan solve over one row of
  * array state. Catalyst can't see that invariant, so this spec pins
  * it: each query must complete within a small fixed job budget, far
  * below what any per-iteration-materialization regression would
  * cost. Bounds sit one job above the measured counts — room for plan
  * jitter (an AQE stage), below any regression that brings back two
  * pins or per-sweep checkpoints (+1 job each).
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
    // measured (AQE stage materializations): markov 5, each portfolio
    // solver 6 — the one-row array solves pin nothing and join
    // nothing. Budgets leave +1, and sit BELOW measured + the smallest
    // regression (markov: +3 if its trans/position/score pins came
    // back, +24 sweeps; the solvers: +2 if the moments pin and the
    // position pin came back, +4..+6 per-iterate checkpoints).
    val budgets = Seq(
      "events_markov_attribution" -> 6,
      "eod_tangency" -> 7,
      "eod_pca_factor" -> 7,
      "eod_risk_parity" -> 7)
    val over = budgets.flatMap { case (name, budget) =>
      val n = run(name)
      info(s"$name: $n jobs (budget $budget)")
      if (n > budget) Some(s"$name ran $n jobs > budget $budget") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }
}
