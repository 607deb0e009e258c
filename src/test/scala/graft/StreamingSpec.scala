package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.streaming.EventStream

/** Structured Streaming op (SURVEY §2 op 58): watermarked windowed
  * aggregation over an event stream, exercised with a MemoryStream. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowed counts with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val agg = EventStream.windowedStats(events, "1 minute", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("update").start()
    try {
      val t0 = 1700000000000L
      input.addData(
        (new Timestamp(t0), "click", 1.0),
        (new Timestamp(t0 + 10000), "click", 3.0),
        (new Timestamp(t0 + 70000), "view", 2.0))
      q.processAllAvailable()
      val out = spark.table("win_agg")
        .select($"event_type", $"n", $"sum_value").orderBy($"event_type")
        .as[(String, Long, Double)].collect()
      assert(out.contains(("click", 2L, 4.0)))
      assert(out.contains(("view", 1L, 2.0)))
    } finally q.stop()
  }

  test("streaming exact dedup keeps first arrival per digest") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val deduped = EventStream.dedupExactStream(docs, "doc_id", "text",
      "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      input.addData(
        (1L, new Timestamp(t0), "alpha beta"),
        (2L, new Timestamp(t0 + 1000), "gamma delta"),
        (3L, new Timestamp(t0 + 2000), "alpha beta")) // dup of doc 1
      q.processAllAvailable()
      // a later micro-batch duplicate within the watermark is dropped too
      input.addData((4L, new Timestamp(t0 + 3000), "gamma delta"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream")
        .select($"doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 2L), s"got $ids")
    } finally q.stop()
  }

  test("streaming sessionization emits closed sessions past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val sessions = EventStream.sessionize(events, "10 minutes", Some("1 minute"))
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      // user 7: two events 30s apart (one session); user 8: one event
      input.addData((new Timestamp(t0), 7L), (new Timestamp(t0 + 30000), 7L),
        (new Timestamp(t0), 8L))
      q.processAllAvailable()
      // far-future event advances the watermark → earlier sessions close
      input.addData((new Timestamp(t0 + 7200000), 9L))
      q.processAllAvailable()
      val out = spark.table("sess")
        .select($"user_id", $"n_events").as[(Long, Long)].collect().toSet
      assert(out.contains((7L, 2L)) && out.contains((8L, 1L)))
    } finally q.stop()
  }

  test("streaming HLL registers equal the batch registers across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val rows = input.toDF().toDF("source", "tok")
    val regs = EventStream.hllRegisterStream(rows, "source", "tok")
    val q = regs.writeStream.format("memory").queryName("hll_regs")
      .outputMode("update").start()
    try {
      val batch1 = (0 until 400).map(i => ("a", s"tok_$i"))
      val batch2 = (200 until 600).map(i => ("a", s"tok_$i")) // overlap
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      // Update mode re-emits changed registers: max-merge the sink,
      // then compare against the one-shot batch register table.
      val streamed = spark.table("hll_regs")
        .groupBy($"source", $"reg").agg(max($"max_rank").as("max_rank"))
      val batch = graft.operators.Sketch.hllRegisters(
        (batch1 ++ batch2).toDF("source", "tok"), Seq("source"), "tok")
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("streaming CMS counters max-merge to the batch counter table") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val rows = input.toDF().toDF("tok")
    val counters = EventStream.cmsCounterStream(rows, "tok", depth = 2,
      width = 64)
    val q = counters.writeStream.format("memory").queryName("cms_cnt")
      .outputMode("update").start()
    try {
      val batch1 = Seq.fill(30)("heavy") ++ (0 until 50).map(i => s"t$i")
      val batch2 = Seq.fill(20)("heavy") ++ (25 until 75).map(i => s"t$i")
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      // Counters only grow: max per cell across Update re-emissions is
      // the final cumulative count — i.e. the one-shot batch table.
      val streamed = spark.table("cms_cnt")
        .groupBy($"j", $"pos").agg(max($"cnt").as("cnt"))
      val batch = graft.operators.Sketch.cmsCounters(
        (batch1 ++ batch2).toDF("tok"), "tok", depth = 2, width = 64)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("streaming histogram sketch max-merges to the batch bin table") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val sk = graft.operators.Sketch.histSketch(
      input.toDF().toDF("g", "v"), Seq("g"), "v", lo = 0.0, hi = 128.0,
      nBins = 32)
    val q = sk.writeStream.format("memory").queryName("hist_stream")
      .outputMode("update").start()
    try {
      val batch1 = (1 to 50).map(i => ("a", i.toDouble))
      val batch2 = (26 to 75).map(i => ("a", i.toDouble)) :+ (("b", 5.0))
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("hist_stream")
        .groupBy($"g", $"bin").agg(max($"cnt").as("cnt"))
      val batch = graft.operators.Sketch.histSketch(
        (batch1 ++ batch2).toDF("g", "v"), Seq("g"), "v", 0.0, 128.0, 32)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("streaming_topk raises once a bucket outgrows its capacity of 16") {
    // candidate tokens sharded into buckets exactly as the query does
    val bucket = (graft.operators.Sketch.kmvHash(col("tok")) % 16).cast("int")
    val cands = (0 until 400).map(i => s"tok$i").toDF("tok")
      .select(col("tok"), bucket).as[(String, Int)].collect()
    val b0 = cands.head._2
    val same = cands.collect { case (t, b) if b == b0 => t }.toSeq
    assert(same.length >= 17)
    def topk(toks: Seq[String]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-topk").toString
      Seq((1L, toks.mkString(" "), "en", "web", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      SparkEntry.queries("streaming_topk")(spark, dir)
        .as[(String, Long, Long)].collect()
    }
    // 16 distinct tokens fit the bucket: exact counts, no error term
    val fits = topk(same.take(16))
    assert(fits.length == 16 && fits.forall(r => r._2 == 1L && r._3 == 0L))
    // the 17th evicts a counter, so its count would be inherited
    val e = intercept[Exception](topk(same.take(17)))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains(s"bucket $b0 ") && msgs.contains("capacity 16"), msgs)
  }

  test("stream-stream time-bounded join pairs halves across batches") {
    implicit val sqlCtx = spark.sqlContext
    val trades = MemoryStream[(Long, Timestamp, Long)]
    val quotes = MemoryStream[(Long, Timestamp, Long)]
    val t0 = 1700000000000L
    val joined = EventStream.timeBoundedJoin(
      trades.toDF().toDF("user_id", "t_ts", "trade_id"),
      quotes.toDF().toDF("q_user_id", "q_ts", "quote_id"),
      "user_id", "q_user_id", "t_ts", "q_ts",
      lookbackSec = 60L, delay = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      // batch 1: quotes only — buffered as join state
      quotes.addData(
        (1L, new Timestamp(t0), 100L),        // in window of trade below
        (1L, new Timestamp(t0 - 120000), 101L), // too old (> 60 s before)
        (2L, new Timestamp(t0), 102L))        // wrong user
      q.processAllAvailable()
      // batch 2: the trade arrives later; its quote is in prior state
      trades.addData((1L, new Timestamp(t0 + 30000), 7L))
      q.processAllAvailable()
      val got = spark.table("ss_join")
        .select($"trade_id", $"quote_id").as[(Long, Long)].collect().toSet
      assert(got == Set((7L, 100L)), got.toString)
    } finally q.stop()
  }
}
