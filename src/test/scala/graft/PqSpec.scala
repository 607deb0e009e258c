package graft

import org.apache.spark.sql.functions._

import graft.operators.Pq

class PqSpec extends SparkSpec {
  import spark.implicits._

  // 4-dim vectors, m=2 subspaces of 2 dims, k=2 codes (seeds = ids 0, 1).
  private val dim = 4
  private val m = 2
  private val k = 2

  test("encode: seeds code to themselves; others to the nearest subvector") {
    val df = Seq(
      (0L, Seq(0.0, 0.0, 0.0, 0.0)),
      (1L, Seq(10.0, 10.0, 10.0, 10.0)),
      (2L, Seq(0.1, -0.1, 9.8, 10.2)), // sub0 → seed 0, sub1 → seed 1
      (3L, Seq(9.0, 9.0, 1.0, 1.0)))   // sub0 → seed 1, sub1 → seed 0
      .toDF("vec_id", "embedding")
    val codes = Pq.encode(df, "vec_id", "embedding", k, m, dim)
      .orderBy($"id", $"sub").as[(Long, Int, Long)].collect().toSeq
    assert(codes == Seq(
      (0L, 0, 0L), (0L, 1, 0L),
      (1L, 0, 1L), (1L, 1, 1L),
      (2L, 0, 0L), (2L, 1, 1L),
      (3L, 0, 1L), (3L, 1, 0L)))
  }

  test("adcTopK: a query equal to a corpus vector ranks it first at d2=0") {
    val corpus = Seq(
      (0L, Seq(0.0, 0.0, 0.0, 0.0)),
      (1L, Seq(10.0, 10.0, 10.0, 10.0)),
      (2L, Seq(0.0, 0.0, 10.0, 10.0)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(0.0, 0.0, 10.0, 10.0)))
      .toDF("vec_id", "embedding")
    val out = Pq.adcTopK(queries, corpus, "vec_id", "embedding", 3, k, m, dim)
      .orderBy($"rank").as[(Long, Int, Long, Double)].collect().toSeq
    // vec 2 quantizes exactly to (seed0-sub0, seed1-sub1), so ADC d2 = 0;
    // vecs 0 and 1 are each 200 away in one subspace.
    assert(out == Seq(
      (100L, 1, 2L, 0.0), (100L, 2, 0L, 200.0), (100L, 3, 1L, 200.0)))
  }

  test("ivfAdcTopK with full probing equals exhaustive adcTopK") {
    // nProbe = nCells → every query scans every inverted list, so the
    // IVF layer must be a pure no-op on the results.
    val corpus = (0L until 40L)
      .map(i => (i, Seq((i % 7).toDouble, (i % 5).toDouble,
        (i % 3).toDouble, (i % 11).toDouble)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(3.0, 2.0, 1.0, 4.0)),
      (101L, Seq(6.0, 0.0, 2.0, 9.0))).toDF("vec_id", "embedding")
    val exhaustive = Pq.adcTopK(queries, corpus, "vec_id", "embedding",
        5, k, m, dim)
      .orderBy($"query_id", $"rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val ivf = Pq.ivfAdcTopK(queries, corpus, "vec_id", "embedding",
        5, nCells = 4, nProbe = 4, k, m, dim)
      .orderBy($"query_id", $"rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(ivf == exhaustive)
  }

  test("ivfAdcTopK probes only nProbe cells") {
    // Two well-separated cells (seeds 0 and 1); with nProbe=1 a query
    // at cell 1 must never surface cell-0 members.
    val corpus = Seq(
      (0L, Seq(0.0, 0.0, 0.0, 0.0)), (1L, Seq(10.0, 10.0, 10.0, 10.0)),
      (2L, Seq(0.2, 0.1, 0.0, 0.1)), (3L, Seq(9.8, 10.1, 10.0, 9.9)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(10.0, 10.0, 10.0, 10.0)))
      .toDF("vec_id", "embedding")
    val out = Pq.ivfAdcTopK(queries, corpus, "vec_id", "embedding",
        4, nCells = 2, nProbe = 1, k, m, dim)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L), s"leaked across unprobed cells: $out")
  }

  test("trained codebooks reduce total ADC self-distance") {
    // Corpus = 3 tight blobs per subspace whose means differ from any
    // raw seed subvector; Lloyd refinement must move the codebooks to
    // the blob means, shrinking every vector's distance to its own
    // quantization. Query each corpus vector against itself: adc_d2 of
    // the self-match is exactly the quantization error.
    val corpus = (0L until 30L).map { i =>
      val c = (i % 3).toDouble * 10
      (i, Seq(c + (i % 5) * 0.1, c - (i % 7) * 0.1,
        c + (i % 2) * 0.1, c))
    }.toDF("vec_id", "embedding")
    def selfErr(iters: Int): Double =
      Pq.adcTopK(corpus, corpus, "vec_id", "embedding", 30,
          k = 3, m = 2, dim = 4, iters = iters)
        .where($"query_id" === $"neighbor_id")
        .agg(sum($"adc_d2")).as[Double].head()
    val seeded = selfErr(0)
    val trained = selfErr(2)
    assert(trained < seeded,
      s"training did not reduce quantization error: $trained >= $seeded")
  }

  test("trained encode is deterministic under repartitioning") {
    val df = (0L until 60L)
      .map(i => (i, Seq((i % 7).toDouble, (i % 5).toDouble,
        (i % 3).toDouble, (i % 11).toDouble)))
      .toDF("vec_id", "embedding")
    val a = Pq.encode(df, "vec_id", "embedding", k = 4, m = 2, dim = 4,
        iters = 2)
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val b = Pq.encode(df.repartition(13), "vec_id", "embedding",
        k = 4, m = 2, dim = 4, iters = 2)
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(a == b)
  }

  test("more than SMAX codes or cells fail at build time, before any job") {
    val df = Seq((0L, Seq(0.0, 0.0, 0.0, 0.0)), (1L, Seq(1.0, 1.0, 1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val sc = spark.sparkContext
    sc.setJobGroup("pq-smax", "k past SMAX")
    val smax = graft.functions.SMAX
    val errs = try Seq(
      intercept[IllegalArgumentException] {
        Pq.ivfAdcTopK(df, df, "vec_id", "embedding", 1,
          nCells = 2, nProbe = 1, k = smax + 1, m = m, dim = dim)
      },
      intercept[IllegalArgumentException] {
        Pq.ivfAdcTopK(df, df, "vec_id", "embedding", 1,
          nCells = smax + 1, nProbe = 1, k = k, m = m, dim = dim)
      })
    finally sc.clearJobGroup()
    errs.foreach(e => assert(e.getMessage.contains("SMAX"), e.getMessage))
    assert(sc.statusTracker.getJobIdsForGroup("pq-smax").isEmpty)
  }

  test("encode ties break to the lowest seed id") {
    val df = Seq(
      (0L, Seq(1.0, 1.0)), (1L, Seq(1.0, 1.0)), (2L, Seq(1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val codes = Pq.encode(df, "vec_id", "embedding", k = 2, m = 1, dim = 2)
      .select($"code").as[Long].collect().toSeq
    assert(codes == Seq(0L, 0L, 0L))
  }
}
