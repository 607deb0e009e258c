package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-15 (second optimization round) guards.
  *
  * 1. SMAX overflow guards (r14 verdict #3): markovAttribution once
  *    pivoted its transient states onto a static 1..SMAX position grid,
  *    where a key cardinality beyond SMAX fell off the `when(fi === i …)`
  *    pivot aggregations SILENTLY — wrong answer, no error. It and the
  *    k×k portfolio solvers (eod_pca_factor / eod_tangency /
  *    eod_risk_parity) now keep their state in one row of k-arrays,
  *    bounded by graft.functions.SMAX. The guards raise instead; these
  *    tests prove the failure is loud and that in-bound sizes pass.
  *
  * 2. Shared landing-dir staging (r14 verdict #1): streamReplay now
  *    stages each source table once per process and shares the
  *    read-only landing dir across replays; checkpoints stay fresh.
  *    Re-running the same streaming query twice must produce the
  *    identical relation (no offset/state carry-over), and a SECOND
  *    query over the same table must see every row.
  */
class Round15Spec extends SparkSpec {

  private def guardFires(query: String, dir: String): Boolean =
    try {
      SparkEntry.queries(query)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      false
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse("") +
          Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
        assert(msg.contains("SMAX"),
          s"$query failed but not via the SMAX guard: $e")
        true
    }

  test("wide-unroll grids fail loudly past SMAX and pass within it") {
    val over = graft.functions.SMAX + 1
    val unders = Seq(7, 8, 16) // the old 7-series grid, just past it, 2×
    val dirs = (over +: unders).map(n => n -> Round15Spec.eventsDir(spark, n)).toMap
    for (q <- Seq("eod_pca_factor", "eod_tangency", "eod_risk_parity")) {
      assert(guardFires(q, dirs(over)), s"$q did not raise with $over series")
      for (n <- unders)
        assert(!guardFires(q, dirs(n)), s"$q raised with $n series")
    }
  }

  test("markovAttribution raises past its transient-state grid") {
    val s = spark
    import s.implicits._
    def journeys(nChannels: Int) = {
      val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      val rows = for {
        u <- 0 until 10
        (ch, i) <- ((0 until nChannels).map(c => f"ch_$c%02d") :+ "purchase").zipWithIndex
      } yield ((u * 100 + i).toLong, java.sql.Timestamp.valueOf(t0.plusMinutes(i)),
        u.toLong, ch, 1.0, "{}")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    }
    // SMAX channels + start = SMAX + 1 transient states → loud failure
    val e = intercept[Throwable] {
      graft.operators.Events.markovAttribution(journeys(graft.functions.SMAX), "purchase")
        .write.format("noop").mode("overwrite").save()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("SMAX"), s"failed but not via the SMAX guard: $e")
    // 7, 8 and 16 transient states (the old 7-state grid, just past
    // it, 2×) compute
    for (n <- Seq(7, 8, 16)) {
      val ok = graft.operators.Events.markovAttribution(journeys(n - 1), "purchase")
      assert(ok.count() == n - 1)
    }
  }

  test("shared landing dir: replays stay deterministic across reruns") {
    val dir = "/root/testdata/sf0.001"
    def rows(q: String): Set[String] =
      SparkEntry.queries(q)(spark, dir)
        .collect().map(_.toString).toSet
    // Two consecutive runs share the staged landing dir but fresh
    // checkpoints: identical output, every row seen both times.
    val first = rows("streaming_twap")
    val second = rows("streaming_twap")
    assert(first.nonEmpty && first == second)
    // A different query over the SAME staged table also sees all rows.
    val scd = rows("streaming_scd2")
    assert(scd.nonEmpty)
  }
}

object Round15Spec {
  /** events-table twin with `nTypes` distinct event types, written as a
    * single-file-per-table dir the SparkEntry loaders accept. Each type
    * is an independent 250-step random walk (1% steps, seeded by type),
    * so the series are near-uncorrelated: with n ≫ k² returns the
    * sample covariance stays diagonally dominant and the k×k solvers'
    * fixed iteration counts converge for every k the specs use.
    */
  def eventsDir(spark: SparkSession, nTypes: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-r15-ev").toString
    import spark.implicits._
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val nObs = 250
    val rows = (0 until nTypes).flatMap { t =>
      val rnd = new java.util.Random(t)
      val prices = Iterator.iterate(100.0)(_ * (1.0 + 0.01 * rnd.nextGaussian()))
      prices.take(nObs).zipWithIndex.map { case (p, i) => (
        (t * nObs + i).toLong,                              // event_id
        java.sql.Timestamp.valueOf(t0.plusHours(i)),        // ts
        (i % 5).toLong,                                     // user_id
        s"type_$t",                                         // event_type
        p,                                                  // value
        """{"k": 1}""")                                     // props
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }
}
