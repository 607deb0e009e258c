package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Stateful
import graft.streaming.Stateful.{MarketEvent, Tick}

/** Stateful streaming ops (flatMapGroupsWithState): state must carry
  * across micro-batches, which is exactly what these specs drive with
  * two separate addData/processAllAvailable rounds.
  */
class StatefulStreamingSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1700000000000L
  private def ts(offsetSec: Long) = new Timestamp(t0 + offsetSec * 1000)

  test("runningDrawdown carries the high-water mark across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tick]
    val q = Stateful.runningDrawdown(input.toDS())
      .writeStream.format("memory").queryName("run_dd")
      .outputMode("append").start()
    try {
      input.addData(
        Tick("A", ts(0), 100.0), Tick("A", ts(1), 110.0),
        Tick("A", ts(2), 99.0), Tick("B", ts(0), 50.0))
      q.processAllAvailable()
      // batch 2: A's high water (110) must persist in state
      input.addData(Tick("A", ts(3), 104.5), Tick("B", ts(1), 60.0))
      q.processAllAvailable()
      val out = spark.table("run_dd")
        .select($"symbol", $"ts", $"high_water", $"drawdown")
        .as[(String, Timestamp, Double, Double)].collect()
        .map { case (s, t, hw, dd) => (s, t.getTime, hw, math.round(dd * 1e6) / 1e6) }
        .toSet
      assert(out.contains(("A", t0 + 1000, 110.0, 0.0)))
      assert(out.contains(("A", t0 + 2000, 110.0, -0.1)))
      assert(out.contains(("A", t0 + 3000, 110.0, -0.05)))   // state carried
      assert(out.contains(("B", t0 + 1000, 60.0, 0.0)))
      assert(out.size == 6)
    } finally q.stop()
  }

  test("runningTwapStream closes intervals with the PREVIOUS price, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tick]
    val q = Stateful.runningTwapStream(input.toDS())
      .writeStream.format("memory").queryName("run_twap")
      .outputMode("append").start()
    try {
      // p=100 held 2s, then p=110 held 1s (across the batch boundary)
      input.addData(Tick("A", ts(0), 100.0), Tick("A", ts(2), 110.0))
      q.processAllAvailable()
      input.addData(Tick("A", ts(3), 120.0))
      q.processAllAvailable()
      val out = spark.table("run_twap")
        .select($"ts", $"twap").as[(Timestamp, Double)].collect()
        .map { case (t, tw) => t.getTime -> tw }.toMap
      // first tick opens its interval, emits nothing
      assert(!out.contains(t0))
      assert(out(t0 + 2000) == 100.0, "one closed interval at p=100")
      // (100·2s + 110·1s)/3s — the state carried lastPrice across batches
      assert(math.abs(out(t0 + 3000) - 310.0 / 3) < 1e-9)
      assert(out.size == 2)
    } finally q.stop()
  }

  test("asOfEnrich joins trades to the prevailing quote across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MarketEvent]
    val q = Stateful.asOfEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof_st")
      .outputMode("append").start()
    try {
      input.addData(
        MarketEvent("A", ts(0), "quote", 0, 99.0, 101.0),
        MarketEvent("A", ts(1), "trade", 100.2, 0, 0),
        MarketEvent("A", ts(2), "quote", 0, 100.0, 102.0),
        // trade before any quote for B → dropped
        MarketEvent("B", ts(1), "trade", 7.0, 0, 0))
      q.processAllAvailable()
      // batch 2: trade enriched by the batch-1 quote held in state
      input.addData(MarketEvent("A", ts(10), "trade", 101.5, 0, 0))
      q.processAllAvailable()
      val out = spark.table("asof_st")
        .select($"symbol", $"price", $"mid", $"latency_ms")
        .as[(String, Double, Double, Long)].collect().toSet
      assert(out == Set(
        ("A", 100.2, 100.0, 1000L),
        ("A", 101.5, 101.0, 8000L)))
    } finally q.stop()
  }

  test("transformWithState tick rule carries lag(price) across batches") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState needs the RocksDB store (column families);
    // the default HDFSBackedStateStoreProvider rejects it.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Tick]
    val q = Stateful.tickRule(input.toDS())
      .writeStream.format("memory").queryName("tick_rule_st")
      .outputMode("append").start()
    try {
      input.addData(Tick("A", ts(0), 100.0), Tick("A", ts(1), 101.0),
        Tick("A", ts(2), 100.5))
      q.processAllAvailable()
      // batch 2: direction of the first tick needs batch-1's last price
      input.addData(Tick("A", ts(3), 102.0), Tick("B", ts(0), 5.0))
      q.processAllAvailable()
      val out = spark.table("tick_rule_st")
        .select($"symbol", $"ts", $"direction")
        .as[(String, Timestamp, Int)].collect()
        .map { case (s, t, d) => (s, t.getTime, d) }.toSet
      assert(out == Set(
        ("A", t0, 0), ("A", t0 + 1000, 1), ("A", t0 + 2000, -1),
        ("A", t0 + 3000, 1),  // vs 100.5 held in state
        ("B", t0, 0)))
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("asOfEnrich ignores a stale quote older than the prevailing one") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MarketEvent]
    val q = Stateful.asOfEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof_stale")
      .outputMode("append").start()
    try {
      input.addData(MarketEvent("A", ts(5), "quote", 0, 10.0, 12.0))
      q.processAllAvailable()
      // late-arriving older quote must not roll the NBBO backwards
      input.addData(MarketEvent("A", ts(1), "quote", 0, 1.0, 3.0))
      q.processAllAvailable()
      input.addData(MarketEvent("A", ts(6), "trade", 11.0, 0, 0))
      q.processAllAvailable()
      val out = spark.table("asof_stale")
        .select($"mid").as[Double].collect().toSeq
      assert(out == Seq(11.0))
    } finally q.stop()
  }

  test("asOfEnrich resolves same-millisecond quotes at microsecond grain across batches") {
    implicit val sqlCtx = spark.sqlContext
    // Two quotes inside ONE millisecond, the later-µs one arriving in
    // the EARLIER micro-batch: state must keep it (µs compare), not let
    // the same-ms earlier quote overwrite it by arrival order.
    def tsUs(offsetUs: Long) = {
      val absUs = t0 * 1000 + offsetUs
      val t = new Timestamp(Math.floorDiv(absUs, 1000000L) * 1000)
      t.setNanos((Math.floorMod(absUs, 1000000L) * 1000).toInt)
      t
    }
    val input = MemoryStream[MarketEvent]
    val q = Stateful.asOfEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof_us")
      .outputMode("append").start()
    try {
      input.addData(MarketEvent("A", tsUs(900), "quote", 0, 20.0, 22.0))
      q.processAllAvailable()
      // same getTime millisecond, 800 µs EARLIER: must be rejected
      input.addData(MarketEvent("A", tsUs(100), "quote", 0, 1.0, 3.0))
      q.processAllAvailable()
      input.addData(MarketEvent("A", tsUs(2500), "trade", 21.0, 0, 0))
      q.processAllAvailable()
      val out = spark.table("asof_us")
        .select($"mid", $"latency_ms").as[(Double, Long)].collect().toSeq
      // prevailing = the 900 µs quote; age = floor((2500-900)/1000) = 1 ms
      assert(out == Seq((21.0, 1L)), out.toString)
    } finally q.stop()
  }

  test("minhashDedupStream flags near-dups against earlier arrivals, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val q = Stateful.minhashDedupStream(
        input.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts")
      .writeStream.format("memory").queryName("sm_dedup")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(0), text),
        (2L, ts(1), "completely different words about spark engines here"))
      q.processAllAvailable()
      // batch 2: an exact copy and a one-token mutation of doc 1 — the
      // bucket-min state from batch 1 must flag both against id 1.
      input.addData((3L, ts(2), text),
        (4L, ts(3), text.replace("fox", "cat")))
      q.processAllAvailable()
      val out = spark.table("sm_dedup")
        .groupBy($"doc_id")
        .agg(org.apache.spark.sql.functions.min($"dup_of").as("dup_of"))
        .as[(Long, Long)].collect().toMap
      assert(out.get(3L).contains(1L), s"exact copy not flagged: $out")
      assert(out.get(4L).contains(1L), s"near-dup not flagged: $out")
      assert(!out.contains(1L) && !out.contains(2L),
        s"first-seen/unique docs must not be flagged: $out")
    } finally q.stop()
  }

  test("minhashDedupStream drops an idle bucket's state after the retention horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val q = Stateful.minhashDedupStream(
        input.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
        retention = "10 seconds")
      .writeStream.format("memory").queryName("sm_dedup_ttl")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(0), text))
      q.processAllAvailable()
      // advance the watermark far past doc 1's TTL (t0+10s): an
      // unrelated doc at t0+100s moves the watermark to t0+90s, and the
      // following batch fires the timeout that removes doc 1's buckets.
      input.addData((2L, ts(100), "completely different words about spark engines"))
      q.processAllAvailable()
      // an exact copy of doc 1 arriving beyond the horizon must NOT be
      // flagged (state dropped) — it becomes the new first-seen…
      input.addData((3L, ts(101), text))
      q.processAllAvailable()
      // …and still flags a subsequent copy inside the fresh window.
      input.addData((4L, ts(102), text))
      q.processAllAvailable()
      val out = spark.table("sm_dedup_ttl")
        .groupBy($"doc_id")
        .agg(org.apache.spark.sql.functions.min($"dup_of").as("dup_of"))
        .as[(Long, Long)].collect().toMap
      assert(!out.contains(3L),
        s"doc 3 matched a bucket that should have expired: $out")
      assert(out.get(4L).contains(3L), s"in-window copy not flagged: $out")
    } finally q.stop()
  }

  test("minhashIncrementalStream flags arrivals against the static index only") {
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val index = Seq((10L, text),
      (11L, "some indexed reference corpus entry entirely unlike it"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = Stateful.minhashIncrementalStream(
        input.toDF().toDF("doc_id", "text"), index, "doc_id", "text")
      .writeStream.format("memory").queryName("sm_inc")
      .outputMode("append").start()
    try {
      input.addData((1L, text),                         // dup of indexed 10
        (2L, "novel arrival with fresh content nobody indexed before"),
        (3L, "novel arrival with fresh content nobody indexed before"))
      q.processAllAvailable()
      // a later copy of doc 2 must ALSO pass: stateless op never pairs
      // arrivals with each other, only with the index
      input.addData((4L, "novel arrival with fresh content nobody indexed before"))
      q.processAllAvailable()
      val out = spark.table("sm_inc")
        .groupBy($"doc_id")
        .agg(org.apache.spark.sql.functions.min($"dup_of").as("dup_of"))
        .as[(Long, Long)].collect().toMap
      assert(out == Map(1L -> 10L), s"unexpected verdicts: $out")
    } finally q.stop()
  }

  test("indexed variant over a parquet round-trip matches the derived index") {
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val index = Seq((10L, text),
      (11L, "some indexed reference corpus entry entirely unlike it"))
      .toDF("doc_id", "text")
    // The production flow: materialize the index relation to parquet
    // once, stream-join the read-back table.
    val ixPath = java.nio.file.Files.createTempDirectory("graft-ix").toString
    Stateful.minhashIndexRelation(index, "doc_id", "text")
      .write.mode("overwrite").parquet(ixPath)
    val input = MemoryStream[(Long, String)]
    val q = Stateful.minhashIncrementalStreamIndexed(
        input.toDF().toDF("doc_id", "text"), spark.read.parquet(ixPath),
        "doc_id", "text")
      .writeStream.format("memory").queryName("sm_inc_ix")
      .outputMode("append").start()
    try {
      input.addData((1L, text),
        (2L, "novel arrival with fresh content nobody indexed before"))
      q.processAllAvailable()
      val out = spark.table("sm_inc_ix")
        .groupBy($"doc_id")
        .agg(org.apache.spark.sql.functions.min($"dup_of").as("dup_of"))
        .as[(Long, Long)].collect().toMap
      assert(out == Map(1L -> 10L), s"unexpected verdicts: $out")
    } finally q.stop()
  }

  test("volumeBarStream carries the unit prefix across batches") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // threshold 10: volumes 4,4,4 → prefix 0,4,8 → bars 0,0,0; the
    // 4th tick (prefix 12) opens bar 1 — only if state carried the 8
    // from batch 1 across the boundary.
    val input = MemoryStream[Stateful.VolTick]
    val q = Stateful.volumeBarStream(input.toDS(), threshold = 10L)
      .writeStream.format("memory").queryName("vbar_stream")
      .outputMode("append").start()
    try {
      input.addData(
        Stateful.VolTick("A", ts(0), 100.0, 4.0),
        Stateful.VolTick("A", ts(1), 101.0, 4.0))
      q.processAllAvailable()
      input.addData(
        Stateful.VolTick("A", ts(2), 102.0, 4.0),
        Stateful.VolTick("A", ts(3), 103.0, 4.0),
        Stateful.VolTick("B", ts(0), 50.0, 25.0))
      q.processAllAvailable()
      val got = spark.table("vbar_stream")
        .select(col("symbol"), col("ts"), col("bar"))
        .as[(String, Timestamp, Long)].collect()
        .map { case (s, t, b) => (s, t.getTime, b) }.toSet
      assert(got == Set(
        ("A", t0, 0L), ("A", t0 + 1000, 0L), ("A", t0 + 2000, 0L),
        ("A", t0 + 3000, 1L),  // crossed only because state carried
        ("B", t0, 0L)), s"unexpected bars: $got")
      // and the streamed ids equal the batch op's on the same ticks
      val ticks = Seq(
        ("A", ts(0), 100.0, 4.0), ("A", ts(1), 101.0, 4.0),
        ("A", ts(2), 102.0, 4.0), ("A", ts(3), 103.0, 4.0),
        ("B", ts(0), 50.0, 25.0)).toDF("symbol", "ts", "price", "volume")
      val batch = graft.operators.Bars
        .volumeBars(ticks, "symbol", "ts", "price", "volume", threshold = 10L)
        .select(col("symbol"), col("bar"), col("n_ticks"))
        .as[(String, Long, Long)].collect().toSet
      assert(batch == Set(("A", 0L, 3L), ("A", 1L, 1L), ("B", 0L, 1L)))
    } finally q.stop()
  }

  test("kmvSketchStream reconstructs the batch sketch across batches") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val k = 4
    // 40 values per group split across two micro-batches, with overlap
    // between the batches (duplicate hashes must collapse in state).
    val all = (0 until 40).map(i => ("g" + (i % 2), "v" + i))
    val (b1, b2) = all.splitAt(24)
    val overlap = all.slice(20, 28) // re-sent in batch 2
    val input = MemoryStream[(String, String)]
    val q = Stateful.kmvSketchStream(
        input.toDF().toDF("g", "v")
          .select(col("g"), graft.operators.Sketch.kmvHash(col("v")).as("h"))
          .as[Stateful.KmvIn],
        k = k)
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("update").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData((b2 ++ overlap): _*)
      q.processAllAvailable()
      // Idempotent read: distinct + per-group bottom-k over everything
      // ever emitted must equal the batch sketch of the full input.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("h"))
      val streamed = spark.table("kmv_stream").distinct()
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("g"), col("h"), col("rank"))
        .as[(String, Long, Int)].collect().toSet
      val batch = graft.operators.Sketch.kmvSketch(
          all.toDF("g", "v"), Seq("g"), "v", k = k)
        .select(col("g"), col("h"), col("rank"))
        .as[(String, Long, Int)].collect().toSet
      assert(streamed == batch,
        s"streamed sketch != batch sketch:\n$streamed\nvs\n$batch")
      assert(batch.count(_._1 == "g0") == k) // the cut actually bit
    } finally q.stop()
  }

  test("runningRiskStream carries lastPrice and integer sums across batches") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tick]
    val q = Stateful.runningRiskStream(input.toDS())
      .writeStream.format("memory").queryName("run_risk")
      .outputMode("append").start()
    try {
      input.addData(Tick("A", ts(0), 100.0), Tick("A", ts(1), 110.0))
      q.processAllAvailable()
      // batch 2 continues from lastPrice=110 carried in state
      input.addData(Tick("A", ts(2), 99.0))
      q.processAllAvailable()
      val out = spark.table("run_risk")
        .orderBy($"ts")
        .select($"retQ", $"n", $"sumQ", $"sumSqQ")
        .as[(Long, Long, Long, Long)].collect()
      val q1 = math.floor(math.log(110.0 / 100.0) * 1e5 + 0.5).toLong
      val q2 = math.floor(math.log(99.0 / 110.0) * 1e5 + 0.5).toLong
      assert(out.length == 2) // first tick seeds state, emits nothing
      assert(out(0) == ((q1, 1L, q1, q1 * q1)))
      assert(out(1) == ((q2, 2L, q1 + q2, q1 * q1 + q2 * q2)))
    } finally q.stop()
  }

  test("cusumStream: Page recursion carries S+/S- across batches") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tick]
    val q = Stateful.cusumStream(input.toDS())
      .writeStream.format("memory").queryName("run_cusum")
      .outputMode("append").start()
    try {
      // up 2%, up 1% (batch 1), then down 5% (batch 2)
      input.addData(Tick("A", ts(0), 100.0), Tick("A", ts(1), 102.0),
        Tick("A", ts(2), 103.02))
      q.processAllAvailable()
      input.addData(Tick("A", ts(3), 97.869))
      q.processAllAvailable()
      val out = spark.table("run_cusum")
        .orderBy($"ts")
        .select($"retQ", $"n", $"cusumPos", $"cusumNeg")
        .as[(Long, Long, Long, Long)].collect()
      def qz(a: Double, b: Double) =
        math.floor((b / a - 1.0) * 1e6 + 0.5).toLong
      val q1 = qz(100.0, 102.0); val q2 = qz(102.0, 103.02)
      val q3 = qz(103.02, 97.869)
      assert(out.length == 3) // first tick seeds state, emits nothing
      assert(out(0) == ((q1, 1L, q1, 0L)))
      assert(out(1) == ((q2, 2L, q1 + q2, 0L)))
      // after the drop: S+ = max(0, q1+q2+q3), S- = max(0, 0 - q3)
      assert(out(2) == ((q3, 3L, math.max(0L, q1 + q2 + q3),
        math.max(0L, -q3))))
    } finally q.stop()
  }

  test("streaksStream: current and max streaks carry across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tick]
    val q = Stateful.streaksStream(input.toDS())
      .writeStream.format("memory").queryName("run_streaks")
      .outputMode("append").start()
    try {
      // up, up (batch 1); up, down, down, flat (batch 2)
      input.addData(Tick("A", ts(0), 100.0), Tick("A", ts(1), 101.0),
        Tick("A", ts(2), 102.0))
      q.processAllAvailable()
      input.addData(Tick("A", ts(3), 103.0), Tick("A", ts(4), 100.0),
        Tick("A", ts(5), 99.0), Tick("A", ts(6), 99.0))
      q.processAllAvailable()
      val out = spark.table("run_streaks")
        .orderBy($"ts")
        .select($"sgn", $"len", $"maxWin", $"maxLoss")
        .as[(Int, Long, Long, Long)].collect().toSeq
      assert(out == Seq( // first tick seeds state, emits nothing
        (1, 1L, 1L, 0L), (1, 2L, 2L, 0L),
        (1, 3L, 3L, 0L),  // the win streak continues only if state carried
        (-1, 1L, 3L, 1L), (-1, 2L, 3L, 2L),
        (0, 1L, 3L, 2L)))  // a flat return breaks both streak kinds
    } finally q.stop()
  }

  test("bipowerStream: last |lr| and integer sums carry across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tick]
    val q = Stateful.bipowerStream(input.toDS())
      .writeStream.format("memory").queryName("run_bipower")
      .outputMode("append").start()
    try {
      input.addData(Tick("A", ts(0), 100.0), Tick("A", ts(1), 110.0))
      q.processAllAvailable()
      // batch 2's bipower term needs batch 1's |lr| from state
      input.addData(Tick("A", ts(2), 99.0))
      q.processAllAvailable()
      val out = spark.table("run_bipower")
        .orderBy($"ts")
        .select($"n", $"sumRvQ", $"sumBvQ")
        .as[(Long, Long, Long)].collect().toSeq
      val lr1 = math.log(110.0 / 100.0); val lr2 = math.log(99.0 / 110.0)
      def qz(x: Double) = math.floor(x * 1e12 + 0.5).toLong
      assert(out == Seq( // first tick seeds state, emits nothing
        (1L, qz(lr1 * lr1), 0L),
        (2L, qz(lr1 * lr1) + qz(lr2 * lr2), qz(math.abs(lr2) * math.abs(lr1)))))
    } finally q.stop()
  }

  test("abGateStream: per-variant counters carry across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Stateful.GateEvent
    val input = MemoryStream[GateEvent]
    val q = Stateful.abGateStream(input.toDS())
      .writeStream.format("memory").queryName("run_abgate")
      .outputMode("append").start()
    try {
      input.addData(GateEvent(0, ts(0), 1L), GateEvent(1, ts(0), 2L),
        GateEvent(0, ts(1), 3L))
      q.processAllAvailable()
      input.addData(GateEvent(0, ts(2), 4L), GateEvent(1, ts(2), 5L))
      q.processAllAvailable()
      val out = spark.table("run_abgate")
        .select($"variant", $"ts", $"n").as[(Int, Timestamp, Long)].collect()
        .map { case (v, t, n) => (v, t.getTime, n) }.toSet
      assert(out == Set(
        (0, t0, 1L), (0, t0 + 1000, 2L), (1, t0, 1L),
        (0, t0 + 2000, 3L), (1, t0 + 2000, 2L))) // counts carried
    } finally q.stop()
  }

  test("vpinStream: bucket prefix and tick-rule price carry across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Stateful.VolTick
    // threshold 10, volume 4 per tick: prefixes 0,4,8,12 → buckets
    // 0,0,0,1; directions need the previous price from state
    val input = MemoryStream[VolTick]
    val q = Stateful.vpinStream(input.toDS(), threshold = 10L)
      .writeStream.format("memory").queryName("run_vpin")
      .outputMode("append").start()
    try {
      input.addData(VolTick("A", ts(0), 100.0, 4.0), VolTick("A", ts(1), 101.0, 4.0))
      q.processAllAvailable()
      input.addData(VolTick("A", ts(2), 102.0, 4.0), VolTick("A", ts(3), 99.0, 4.0),
        VolTick("B", ts(0), 50.0, 4.0))
      q.processAllAvailable()
      val out = spark.table("run_vpin")
        .select($"symbol", $"ts", $"dirn", $"bar")
        .as[(String, Timestamp, Int, Long)].collect()
        .map { case (s, t, d, b) => (s, t.getTime, d, b) }.toSet
      assert(out == Set(
        ("A", t0, 0, 0L), ("A", t0 + 1000, 1, 0L),
        ("A", t0 + 2000, 1, 0L),   // up-tick only against the carried 101
        ("A", t0 + 3000, -1, 1L),  // bucket 1 only if the prefix carried
        ("B", t0, 0, 0L)))
    } finally q.stop()
  }

  test("dollarBarStream carries the cent prefix across batches") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // threshold 100 000 cents, 40 000 cents per tick: prefixes 0, 40k,
    // 80k, 120k → bars 0,0,0,1 — the 4th tick opens bar 1 only if
    // state carried the 80k from batch 1.
    val input = MemoryStream[Stateful.VolTick]
    val q = Stateful.dollarBarStream(input.toDS(), thresholdCents = 100000L)
      .writeStream.format("memory").queryName("dbar_stream")
      .outputMode("append").start()
    try {
      input.addData(
        Stateful.VolTick("A", ts(0), 100.0, 4.0),
        Stateful.VolTick("A", ts(1), 100.0, 4.0))
      q.processAllAvailable()
      input.addData(
        Stateful.VolTick("A", ts(2), 100.0, 4.0),
        Stateful.VolTick("A", ts(3), 100.0, 4.0),
        Stateful.VolTick("B", ts(0), 50.0, 25.0))
      q.processAllAvailable()
      val got = spark.table("dbar_stream")
        .select(col("symbol"), col("ts"), col("bar"))
        .as[(String, Timestamp, Long)].collect()
        .map { case (s, t, b) => (s, t.getTime, b) }.toSet
      assert(got == Set(
        ("A", t0, 0L), ("A", t0 + 1000, 0L), ("A", t0 + 2000, 0L),
        ("A", t0 + 3000, 1L),  // crossed only because state carried
        ("B", t0, 0L)), s"unexpected bars: $got")
      // and the streamed ids equal the batch op's on the same ticks
      val ticks = Seq(
        ("A", ts(0), 100.0, 4.0), ("A", ts(1), 100.0, 4.0),
        ("A", ts(2), 100.0, 4.0), ("A", ts(3), 100.0, 4.0),
        ("B", ts(0), 50.0, 25.0)).toDF("symbol", "ts", "price", "volume")
      val batch = graft.operators.Bars
        .dollarBars(ticks, "symbol", "ts", "price", "volume",
          thresholdCents = 100000L)
        .select(col("symbol"), col("bar"), col("n_ticks"))
        .as[(String, Long, Long)].collect().toSet
      assert(batch == Set(("A", 0L, 3L), ("A", 1L, 1L), ("B", 0L, 1L)))
    } finally q.stop()
  }

  test("sampleNStream: bottom-n state equals the batch bottom-n across batches") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Stateful.SampIn
    // keys chosen so batch 2 displaces one of batch 1's bottom-2
    val b1 = Seq(SampIn("s", 50L, 1L), SampIn("s", 30L, 2L), SampIn("s", 70L, 3L))
    val b2 = Seq(SampIn("s", 10L, 4L), SampIn("s", 60L, 5L))
    val input = MemoryStream[SampIn]
    val q = Stateful.sampleNStream(input.toDS(), n = 2)
      .writeStream.format("memory").queryName("samp_stream")
      .outputMode("update").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      // distinct + bottom-2 over everything emitted = batch bottom-2
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"g").orderBy($"key", $"id")
      val got = spark.table("samp_stream").distinct()
        .withColumn("rnk", row_number().over(w)).where($"rnk" <= 2)
        .select($"key", $"id").as[(Long, Long)].collect().toSet
      assert(got == Set((10L, 4L), (30L, 2L)), got.toString)
    } finally q.stop()
  }

  test("spaceSavingStream: exact under capacity, bounded state + err past it") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // One bucket, capacity 3, 4 distinct tokens: a/b heavy, c light,
    // d arrives LAST (after state is full) and must evict the minimum.
    val b1 = Seq("a", "a", "b", "c", "a", "b")          // batch 1: a=3 b=2 c=1
    val b2 = Seq("a", "b", "d")                          // batch 2: d evicts c
    val input = MemoryStream[String]
    val q = Stateful.spaceSavingStream(
        input.toDF().toDF("token")
          .select(lit(0).as("bucket"), col("token"))
          .as[Stateful.SSIn],
        capacity = 3)
      .writeStream.format("memory").queryName("ss_topk")
      .outputMode("update").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      // under capacity: every count exact, err 0
      val snap1 = spark.table("ss_topk")
        .groupBy($"token").agg(max($"cnt").as("cnt"), max($"err").as("err"))
        .as[(String, Long, Long)].collect()
        .map { case (t, c, e) => t -> (c, e) }.toMap
      assert(snap1 == Map("a" -> (3L, 0L), "b" -> (2L, 0L), "c" -> (1L, 0L)))
      input.addData(b2: _*)
      q.processAllAvailable()
      val last = spark.table("ss_topk")
        .groupBy($"token").agg(max($"cnt").as("cnt"), max($"err").as("err"))
        .as[(String, Long, Long)].collect()
        .map { case (t, c, e) => t -> (c, e) }.toMap
      // state stayed ≤ capacity: c (the min counter) was evicted, d
      // inherited its count+1 with err = the evicted count — the
      // space-saving overestimate invariant (true ∈ [cnt−err, cnt]).
      assert(last("a") == (4L, 0L) && last("b") == (3L, 0L))
      assert(last("d") == (2L, 1L), last.toString)
      // the final state snapshot (latest emission set) holds 3 tokens
      val finalTokens = Set("a", "b", "d")
      assert(finalTokens.forall(last.contains))
    } finally q.stop()
  }

  test("scd2Stream: closed intervals + min-merged open rows equal batch scd2") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, min}
    import graft.streaming.Stateful.Scd2In
    val input = MemoryStream[Scd2In]
    val q = Stateful.scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("sscd")
      .outputMode("append").start()
    try {
      // batch 1: user 1 free → free (no-op) → paid
      input.addData(
        Scd2In(1L, ts(0), 1L, "free"), Scd2In(1L, ts(1), 2L, "free"),
        Scd2In(1L, ts(2), 3L, "paid"))
      q.processAllAvailable()
      // batch 2: back to free — must close the paid row opened in batch 1
      input.addData(Scd2In(1L, ts(3), 4L, "free"))
      q.processAllAvailable()
      val rows = spark.table("sscd")
        .groupBy(col("user_id"), col("valid_from_us"), col("state"))
        .agg(min(col("valid_to_us")).as("valid_to_us"))
        .orderBy(col("valid_from_us"))
        .as[(Long, Long, String, Long)].collect()
      val us0 = (t0 + 0) * 1000
      def us(sec: Long) = (t0 + sec * 1000) * 1000
      assert(rows.map(r => (r._3, r._2, r._4)).toSeq == Seq(
        ("free", us0, us(2)), ("paid", us(2), us(3)),
        ("free", us(3), graft.operators.Events.OpenUs)))
    } finally q.stop()
  }

  test("transitionStream: last state carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Stateful.TransIn
    val input = MemoryStream[TransIn]
    val q = Stateful.transitionStream(input.toDS())
      .writeStream.format("memory").queryName("stra")
      .outputMode("append").start()
    try {
      input.addData(TransIn(1L, ts(0), 1L, "view"),
        TransIn(1L, ts(1), 2L, "click"))
      q.processAllAvailable()
      // batch 2: the click→purchase adjacency spans the batch boundary
      input.addData(TransIn(1L, ts(2), 3L, "purchase"))
      q.processAllAvailable()
      val pairs = spark.table("stra").as[(String, String)].collect().toSeq
      assert(pairs.sorted == Seq(("click", "purchase"), ("view", "click")))
    } finally q.stop()
  }

  test("journeyStream: two-back history carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Stateful.TransIn
    val input = MemoryStream[TransIn]
    val q = Stateful.journeyStream(input.toDS())
      .writeStream.format("memory").queryName("sjou")
      .outputMode("append").start()
    try {
      input.addData(TransIn(1L, ts(0), 1L, "view"),
        TransIn(1L, ts(1), 2L, "click"))
      q.processAllAvailable()
      // the (view, click, purchase) path spans the batch boundary
      input.addData(TransIn(1L, ts(2), 3L, "purchase"),
        TransIn(1L, ts(3), 4L, "view"))
      q.processAllAvailable()
      val paths = spark.table("sjou").as[(String, String, String)]
        .collect().toSeq.sorted
      assert(paths == Seq(("click", "purchase", "view"),
        ("view", "click", "purchase")))
    } finally q.stop()
  }

  test("conversionLagStream: first-signup state carries, converts once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Stateful.TransIn
    val input = MemoryStream[TransIn]
    val q = Stateful.conversionLagStream(input.toDS(), "signup", "purchase")
      .writeStream.format("memory").queryName("sclg")
      .outputMode("append").start()
    try {
      input.addData(TransIn(1L, ts(0), 1L, "signup"),
        TransIn(1L, ts(5), 2L, "signup")) // second signup ignored
      q.processAllAvailable()
      // conversion lands in a later batch; a second purchase never
      // re-emits (converted flag)
      input.addData(TransIn(1L, ts(90), 3L, "purchase"),
        TransIn(1L, ts(120), 4L, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("sclg").as[(Long, String, Long)]
        .collect().toSeq.sortBy(_._2)
      assert(rows == Seq((1L, "conv", 90L), (1L, "signup", 0L)))
    } finally q.stop()
  }

  test("attributionStream: touch state carries across batches, lookback binds") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Stateful.AttrIn
    val week = 604800L
    val input = MemoryStream[AttrIn]
    val q = Stateful.attributionStream(input.toDS(), "purchase", 604800000000L)
      .writeStream.format("memory").queryName("satt")
      .outputMode("append").start()
    try {
      input.addData(AttrIn(1L, ts(0), 1L, "click", 0.0))
      q.processAllAvailable()
      // conversion in a LATER batch still sees the click (state carry);
      // a second conversion after the lookback falls back to direct,
      // but first touch stays the lifetime click
      input.addData(AttrIn(1L, ts(10), 2L, "purchase", 50.0),
        AttrIn(1L, ts(10 + 2 * week), 3L, "purchase", 25.0))
      q.processAllAvailable()
      val rows = spark.table("satt").as[(String, String, Double)]
        .collect().toSeq.sortBy(_._3)
      assert(rows == Seq(("direct", "click", 25.0), ("click", "click", 50.0)))
    } finally q.stop()
  }

  test("hawkesStream: kernel sums over pre-append state, across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Stateful.HawkesIn
    val input = MemoryStream[HawkesIn]
    val q = Stateful.hawkesStream(input.toDS())
      .writeStream.format("memory").queryName("shaw")
      .outputMode("append").start()
    try {
      input.addData(HawkesIn("A", ts(0), 1L), HawkesIn("A", ts(10), 2L))
      q.processAllAvailable()
      input.addData(HawkesIn("A", ts(20), 3L)) // state carries 2 arrivals
      q.processAllAvailable()
      val got = spark.table("shaw").as[(String, Long, Long)].collect()
        .map(r => r._2 -> r._3).toMap
      def term(dSec: Long) =
        math.floor(math.pow(0.995, dSec.toDouble) * 1e9 + 0.5).toLong
      assert(got(1L) == 0L)
      assert(got(2L) == term(10))
      assert(got(3L) == term(20) + term(10))
    } finally q.stop()
  }

  test("funnelStream: strict ordering holds across batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.max
    import graft.streaming.Stateful.FunnelIn
    val input = MemoryStream[FunnelIn]
    val q = Stateful.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("sfun")
      .outputMode("append").start()
    try {
      // batch 1: user 1 reaches step 1; user 2 sees step 2 FIRST (must
      // not count) then step 1
      input.addData(
        FunnelIn(1L, ts(0), 1L, 1),
        FunnelIn(2L, ts(0), 2L, 2), FunnelIn(2L, ts(1), 3L, 1))
      q.processAllAvailable()
      // batch 2: user 1's step 2 and 3 arrive later (state must carry
      // t1 across batches); user 2 gets an unrelated event only
      input.addData(
        FunnelIn(1L, ts(10), 4L, 2), FunnelIn(1L, ts(20), 5L, 3),
        FunnelIn(2L, ts(10), 6L, 0))
      q.processAllAvailable()
      val flags = spark.table("sfun")
        .groupBy($"user_id")
        .agg(max($"s1").as("s1"), max($"s2").as("s2"), max($"s3").as("s3"))
        .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
      assert(flags(1L) == ((1L, 1, 1, 1)))
      assert(flags(2L) == ((2L, 1, 0, 0))) // step-2-before-step-1 never counts
    } finally q.stop()
  }
}
