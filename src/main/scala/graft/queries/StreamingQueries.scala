package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Corpus, Similarity, Sketch}

/** Structured Streaming replays (`streaming_`) and the harness that
  * runs them. A replay whose sink equals a batch query's result is a
  * [[Twin]] of that query and is checked by its oracle. */
object StreamingQueries {

  // Every streaming_* query is a real Structured Streaming run: its
  // source table is staged into a watched landing dir (a production
  // ingest watches exactly such a dir), the query's transform runs to
  // a foreachBatch parquet sink under Trigger.AvailableNow, and the
  // sink is read back for the DuckDB compare. The harness below owns
  // that whole policy — staging, partitioning, the run and its timings;
  // a query body supplies only its transform. Keep any row filtering
  // in the SINK or post-replay: a pre-agg filter can be pushed below
  // the EventTimeWatermark node (see [[sentinelReplay]]).

  /** Shuffle partitions of every replay's stream run — the state-store
    * sizing rule (partitions ∝ state volume, not CPU count): a stateful
    * replay whose state is a few thousand small keys pays per-batch
    * commit latency on EVERY store instance, so 32 near-empty
    * HDFS-backed stores lose to 8. Measured per query at sf0.1/local[32],
    * min-of-2: smdedup 5.3→2.8 s, kmv 3.6→2.9, cms 3.4→2.9, tick_rule
    * 2.3→1.9, window-agg 6.5→3.8. A stream-stream join keeps FOUR state
    * stores per partition and does little per-row compute, so it gains
    * the same way. At lake scale state volume grows with content and the
    * right count grows with it.
    *
    * Only the stream run sees this: the sink read back is a batch
    * relation and runs at the caller's setting. The map-only replays
    * (streaming_quality_gate, streaming_readability, streaming_split)
    * have no exchange for it to size, and the two stream-static joins
    * (streaming_knn_graph, streaming_dedup_incremental) broadcast their
    * index side.
    *
    * State-store provider note (r12, measured): switching the three
    * heaviest replays to RocksDBStateStoreProvider + changelog
    * checkpointing LOSES at this state size (min-of-3 BenchOne,
    * sf0.1/local[32]: window_agg 3.28→3.57 s, dedup_minhash
    * 2.14→2.56 s, zscore 1.35→1.66 s) — each of the 8 store
    * instances pays native RocksDB open/compact/teardown per run,
    * which exceeds the HDFS store's small-file commit tax when state
    * is a few thousand tiny keys on local disk. streaming_tick_rule
    * keeps RocksDB because transformWithState REQUIRES it (column
    * families), not because it wins. At production state sizes
    * (GB-scale, long-lived queries amortizing the open) RocksDB +
    * changelog is still the right default; this is a harness-scale
    * verdict, not a library-wide one.
    */
  private val ReplayPartitions = 8

  /** A table's parquet files: `path` itself when it is one file, else
    * its `.parquet` part files. Staging copies files, never the
    * directory — a dir copied as one entry arrives EMPTY and the replay
    * silently processes zero batches.
    */
  private def tableFiles(path: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(p)) Seq(p)
    else {
      import scala.jdk.CollectionConverters._
      val ls = java.nio.file.Files.list(p)
      try ls.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally ls.close()
    }
  }

  private def stageFiles(files: Seq[java.nio.file.Path],
                         in: java.nio.file.Path): Unit =
    files.foreach(f => java.nio.file.Files.copy(f, in.resolve(f.getFileName)))

  /** Process-lifetime landing-dir cache for [[streamReplay]] (r15,
    * r14 verdict #1): each source table is staged into a read-only
    * watched dir ONCE per bench/verify process and shared by every
    * replay of that table. Staging is input preparation — a production
    * ingest's landing dir already exists before the stream starts —
    * so re-copying the same immutable source file per query (and per
    * bench rep) only measured the harness. The key is the path plus
    * every staged file's (name, size, mtime), so a table rewritten
    * in-process is restaged rather than served stale. Nothing stateful
    * is shared: checkpoint and sink dirs stay per-invocation, so every
    * replay still starts from a fresh offset log and processes every
    * file. [[sentinelReplay]] APPENDS to its landing dir mid-query and
    * therefore stages a private one — only the immutable-source path
    * goes through this cache.
    */
  private val stagedSources = scala.collection.concurrent.TrieMap[
    (String, Seq[(String, Long, Long)]),
    (String, org.apache.spark.sql.types.StructType)]()

  /** Stage `path` (single parquet file OR a directory of part files)
    * into a landing dir, once per process and file set; returns
    * (landing dir, source schema).
    */
  private def stageSource(s: SparkSession, path: String,
                          table: String): (String, org.apache.spark.sql.types.StructType) = {
    val files = tableFiles(path)
    val key = (path, files.map(f => (f.getFileName.toString,
      java.nio.file.Files.size(f),
      java.nio.file.Files.getLastModifiedTime(f).toMillis)))
    stagedSources.getOrElseUpdate(key, {
      val in = java.nio.file.Files.createTempDirectory(s"graft-src-$table")
      stageFiles(files, in)
      (in.toString, s.read.parquet(path).schema)
    })
  }

  /** Replay `table` through `build` in one AvailableNow run. */
  private def streamReplay(s: SparkSession, dir: String, table: String,
                           tag: String, mode: String = "append")
                          (build: DataFrame => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val (in, schema) = stageSource(s, s"$dir/$table.parquet", table)
    runReplay(s, tag, t0, in, schema, mode, None, None)(build)
  }

  /** Two-run sentinel flush for the watermark-gated `events` replays
    * (streaming_sessionize, streaming_window_agg). Two AvailableNow
    * runs against one checkpoint: run 1 ingests the data (the watermark
    * commits at max real event time); one sentinel row at ~2200-01-01
    * with `markCol` = `mark` is appended to the landing dir ONLY then,
    * so run 2 deterministically sees it as a new batch, advances the
    * watermark past every real window, and its closing no-data batch
    * flushes them. A single run leaves the data/sentinel batch split to
    * file-listing order — flaky.
    *
    * The sentinel is dropped in the SINK, not the streaming plan: a
    * pre-agg filter on the groupBy key gets pushed below the
    * EventTimeWatermark node by Catalyst, and a sentinel filtered there
    * never advances the watermark — the silent no-flush failure this
    * replay's debugging found. The landing dir is private (this replay
    * appends to it), staged file by file like [[stageSource]].
    */
  private def sentinelReplay(s: SparkSession, dir: String, tag: String,
                             markCol: String, mark: Column)
                            (build: DataFrame => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val path = s"$dir/events.parquet"
    val in = java.nio.file.Files.createTempDirectory(s"graft-$tag-in")
    stageFiles(tableFiles(path), in)
    val raw = s.read.parquet(path)
    // Sentinel ts in whatever physical type the source carries, so the
    // fixed readStream schema still matches.
    val sentinelTs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        lit(7258118400000000000L) // ns
      case org.apache.spark.sql.types.TimestampNTZType =>
        expr("timestamp_ntz'2200-01-01 00:00:00'")
      case _ => expr("timestamp'2200-01-01 00:00:00'")
    }
    runReplay(s, tag, t0, in.toString, raw.schema, "append",
      Some(col(markCol) =!= mark),
      Some(() => raw.limit(1).withColumn("ts", sentinelTs)
        .withColumn(markCol, mark)
        .write.mode("append").parquet(in.toString)))(build)
  }

  /** Run `build` over the landing dir `in` under Trigger.AvailableNow
    * at [[ReplayPartitions]] into a fresh foreachBatch parquet sink
    * (each micro-batch filtered by `keep`), then — if `flush` is given —
    * run `flush` and run again against the same checkpoint. Records the
    * tag's [[replayStats]] (stage timed from `t0`) and returns the sink
    * read back.
    */
  private def runReplay(s: SparkSession, tag: String, t0: Long, in: String,
                        schema: org.apache.spark.sql.types.StructType,
                        mode: String, keep: Option[Column],
                        flush: Option[() => Unit])
                       (build: DataFrame => DataFrame): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory(s"graft-$tag-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-$tag-ck").toString
    val stage = (System.nanoTime() - t0) / 1e9
    var wall = 0.0
    var addBatch = 0.0
    def run(): Unit = {
      val saved = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", ReplayPartitions.toString)
      try {
        val src = s.readStream.schema(schema).parquet(in)
        val t1 = System.nanoTime()
        val q = build(src).writeStream
          .outputMode(mode)
          .foreachBatch((batch: DataFrame, _: Long) =>
            keep.fold(batch)(batch.where).write.mode("append").parquet(out))
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        wall += (System.nanoTime() - t1) / 1e9
        addBatch += q.recentProgress.iterator.flatMap(p =>
          Option(p.durationMs.get("addBatch")).map(_.toDouble / 1e3)).sum
      } finally s.conf.set("spark.sql.shuffle.partitions", saved)
    }
    run()
    flush.foreach { f => f(); run() }
    SparkEntry.replayStats(tag) = (stage, wall, addBatch)
    s.read.parquet(out)
  }

  /** Tie-free synthetic event time for streaming replays: 1 ms per
    * event_id. Stateful operators order by `Timestamp.getTime`, which
    * truncates to MILLISECONDS — µs spacing would tie ~1000 consecutive
    * ids per ms and leave their order to partition arrival, diverging
    * from the oracle's ORDER BY event_id under multi-split reads.
    */
  private val ReplayBaseUs = 1712928600000000L
  private def replayTs(id: Column): Column =
    timestamp_micros(lit(ReplayBaseUs) + id * 1000L)

  /** The per-symbol tick projection of the stateful `events` replays:
    * (symbol, replay time, price), then any `extra` columns.
    */
  private def replayTicks(src: DataFrame, extra: Column*): DataFrame =
    src.select(Seq(col("event_type").as("symbol"),
      replayTs(col("event_id")).as("ts"),
      col("value").cast("double").as("price")) ++ extra: _*)

  /** Shared tail of the streaming bar twins (op 136): the batch OHLCV
    * over a bar-stamped tick sink — the same aggregation and rounding
    * as the batch bar queries, so the oracle is shared. The sink's
    * synthetic replay ts is order-equivalent to (ts, event_id), which
    * makes min_by/max_by land the batch open/close.
    */
  private def barSinkReport(sunk: DataFrame): DataFrame =
    graft.operators.Bars.ohlcv(sunk.groupBy(col("symbol"), col("bar")),
        "ts", "price", "volume", tiebreak = None)
      .select(col("symbol").as("event_type"), col("bar"),
        round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
        round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
        round(col("volume"), 6).as("volume"),
        round(col("vwap"), 6).as("vwap"), col("n_ticks"))

  val registry: Seq[(String, Registration)] = Seq(
    // Streaming Hawkes, REPLAYED to batch (op 346): ≤60 arrival-µs of
    // state per symbol; each arrival's quantized kernel sum over the
    // pre-append state equals the batch rowsBetween(−60,−1) frame, so
    // the batch op-342 oracle replays the stream verbatim.
    "streaming_hawkes" -> Twin((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "shaw") { src =>
        val evs = graft.sources.Tables.normalizeEventTs(src)
          .select(col("event_type").as("symbol"), col("ts"),
            col("event_id").as("eventId"))
          .as[graft.streaming.Stateful.HawkesIn]
        graft.streaming.Stateful.hawkesStream(evs).toDF
      }
        .select(col("symbol").as("event_type"), col("event_id"),
          round(lit(0.05) + lit(0.3) * (col("sumq").cast("double") / 1e9), 6)
            .as("lambda"))
    },
      // op 346: per-arrival kernel sums over the pre-append ≤60-arrival
      // state equal the batch rowsBetween(−60,−1) frame — the stream
      // replays the batch op-342 oracle.
      batch = "tick_hawkes"),

    // ---- streaming funnel, REPLAYED to batch (op 337): the op-330
    // reach flags maintained per user at ingest (flatMapGroupsWithState,
    // two longs + a boolean of state per user); the oracle is the batch
    // events_funnel SQL verbatim — batch/stream parity for funnels.
    "streaming_funnel" -> Twin((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "sfun") { src =>
        val stepNo = when(col("event_type") === "signup", 1)
          .when(col("event_type") === "click", 2)
          .when(col("event_type") === "purchase", 3).otherwise(0)
        val evs = graft.sources.Tables.normalizeEventTs(src)
          .select(col("user_id").as("userId"), col("ts"),
            col("event_id").as("eventId"), stepNo.as("step"))
          .as[graft.streaming.Stateful.FunnelIn]
        graft.streaming.Stateful.funnelStream(evs).toDF
      }
        // flags are monotone per user: the max over per-batch emissions
        // is the final reach
        .groupBy(col("user_id"))
        .agg(max(col("s1")).as("s1"), max(col("s2")).as("s2"),
          max(col("s3")).as("s3"))
    },
      // op 337: reach flags are monotone and keyed by the EARLIEST
      // qualifying step times, so the max-merged sink equals the batch
      // funnel exactly — the stream replays the batch op-330 oracle.
      batch = "events_funnel"),

    // op 366: streaming time-to-convert — (first-signup µs, converted)
    // state per user; signup markers + one exact lag per conversion
    // equal the batch first/first-later aggs, so the rollup replays
    // the batch op-364 oracle verbatim.
    "streaming_conversion_lag" -> Twin((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "sclg") { src =>
        val evs = graft.sources.Tables.normalizeEventTs(src)
          .select(col("user_id").as("userId"), col("ts"),
            col("event_id").as("eventId"), col("event_type").as("eventType"))
          .as[graft.streaming.Stateful.TransIn]
        graft.streaming.Stateful
          .conversionLagStream(evs, "signup", "purchase").toDF
      }
        .transform { rows =>
          val nSign = rows.where(col("kind") === "signup")
            .agg(count(lit(1)).as("n_signups"))
          rows.where(col("kind") === "conv")
            .agg(count(lit(1)).as("n_converted"),
              graft.functions.Stats.quantile(col("lag_s"), 0.5).as("_med"),
              graft.functions.Stats.quantile(col("lag_s"), 0.9).as("_p90"))
            .crossJoin(broadcast(nSign))
            .select(col("n_signups"), col("n_converted"),
              (floor(col("n_converted").cast("double") / col("n_signups")
                * 1e6 + lit(0.5)) / 1e6).as("conversion_rate"),
              round(col("_med"), 1).as("median_lag_s"),
              round(col("_p90"), 1).as("p90_lag_s"))
        }
    },
      // op 366: signup markers + first-conversion lags equal the batch
      // first/first-later aggs — replays the batch op-364 oracle.
      batch = "events_conversion_lag"),

    // op 361: streaming attribution — per-user (last touch, first
    // touch) state; each conversion's emitted row equals the batch
    // running-window row, so the channel rollup replays the batch
    // op-335 oracle verbatim.
    "streaming_attribution" -> Twin((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "satt") { src =>
        val evs = graft.sources.Tables.normalizeEventTs(src)
          .select(col("user_id").as("userId"), col("ts"),
            col("event_id").as("eventId"), col("event_type").as("eventType"),
            col("value").cast("double").as("value"))
          .as[graft.streaming.Stateful.AttrIn]
        graft.streaming.Stateful
          .attributionStream(evs, "purchase", 604800000000L).toDF
      }
        .transform { conv =>
          val byLast = conv.groupBy(col("last_touch").as("channel"))
            .agg(count(lit(1)).as("n_last_touch"),
              sum(col("rev").cast("decimal(30,10)")).as("_rev_last"))
          val byFirst = conv.groupBy(col("first_touch").as("channel"))
            .agg(count(lit(1)).as("n_first_touch"))
          byLast.join(byFirst, Seq("channel"), "full_outer")
            .select(col("channel"),
              coalesce(col("n_last_touch"), lit(0L)).as("n_last_touch"),
              round(coalesce(col("_rev_last"),
                lit(0).cast("decimal(30,10)")).cast("double"), 6)
                .as("rev_last_touch"),
              coalesce(col("n_first_touch"), lit(0L)).as("n_first_touch"))
        }
    },
      // op 361: each conversion's emitted (last, first, rev) equals
      // the batch running-window row — replays the batch op-335 oracle.
      batch = "events_attribution"),

    // op 358: streaming 3-event paths — two-string state per user; the
    // path multiset equals the batch two-lag pairs, so the top-10
    // rollup replays the batch op-356 oracle verbatim.
    "streaming_journeys" -> Twin((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "sjou") { src =>
        val evs = graft.sources.Tables.normalizeEventTs(src)
          .select(col("user_id").as("userId"), col("ts"),
            col("event_id").as("eventId"), col("event_type").as("eventType"))
          .as[graft.streaming.Stateful.TransIn]
        graft.streaming.Stateful.journeyStream(evs).toDF
      }
        .groupBy(col("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(10)
    },
      // op 358: the emitted 3-path multiset equals the batch two-lag
      // paths (two-string state) — replays the batch op-356 oracle.
      batch = "events_journeys"),

    // ---- streaming Markov transitions, REPLAYED to batch (op 345):
    // one-string-per-user state; the emitted pair multiset equals the
    // batch lag pairs, so the count/probability rollup replays the
    // batch op-338 oracle verbatim.
    "streaming_transitions" -> Twin((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "stra") { src =>
        val evs = graft.sources.Tables.normalizeEventTs(src)
          .select(col("user_id").as("userId"), col("ts"),
            col("event_id").as("eventId"), col("event_type").as("eventType"))
          .as[graft.streaming.Stateful.TransIn]
        graft.streaming.Stateful.transitionStream(evs).toDF
      }
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .transform { pairs =>
          val totals = pairs.groupBy(col("from_type"))
            .agg(sum(col("n")).as("_total"))
          pairs.join(broadcast(totals), "from_type")
            .select(col("from_type"), col("to_type"), col("n"),
              (floor(col("n").cast("double") / col("_total") * 1e6
                + lit(0.5)) / 1e6).as("p"))
        }
    },
      // op 345: the emitted (from, to) pair multiset equals the batch
      // lag pairs (one-string state), so the rollup replays the batch
      // op-338 oracle.
      batch = "events_transitions"),

    // ---- streaming SCD2, REPLAYED to batch (op 339): the op-332
    // dimension maintained per user at ingest; closed intervals emit on
    // state change, the open row re-emits per batch, and the sink
    // groupBy keeps min(valid_to) — equals the batch SCD2 table, so the
    // oracle is the batch events_scd2 SQL verbatim.
    "streaming_scd2" -> Twin((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "sscd") { src =>
        val evs = graft.sources.Tables.normalizeEventTs(src)
          .select(col("user_id").as("userId"), col("ts"),
            col("event_id").as("eventId"), col("event_type").as("state"))
          .as[graft.streaming.Stateful.Scd2In]
        graft.streaming.Stateful.scd2Stream(evs).toDF
      }
        .groupBy(col("user_id"), col("valid_from_us"), col("state"))
        .agg(min(col("valid_to_us")).as("valid_to_us"))
        .select(col("user_id"), col("state"), col("valid_from_us"),
          col("valid_to_us"),
          (col("valid_to_us") === graft.operators.Events.OpenUs)
            .cast("int").as("is_current"))
    },
      // op 339: closed intervals + per-batch open-row re-emissions,
      // min(valid_to)-merged in the sink, equal the batch SCD2 table —
      // the stream replays the batch op-332 oracle.
      batch = "events_scd2"),

    // ---- streaming sessionization, REPLAYED to batch (op 333): the
    // SAME session_window expression as the batch `sessionize` query,
    // run as a real Append-mode stream with watermark-bounded state and
    // flushed by the two-phase sentinel (see streaming_window_agg).
    // The oracle is the batch sessionize SQL verbatim — the strongest
    // possible batch/stream parity check for gap sessions.
    "streaming_sessionize" -> Query((s, dir) =>
      sentinelReplay(s, dir, "sses", "user_id", lit(-999L)) { src =>
        graft.streaming.EventStream
          .sessionize(graft.sources.Tables.normalizeEventTs(src),
            "30 minutes", Some("0 seconds"))
          .select(col("user_id"), col("n_events"),
            unix_micros(col("first_ts")).as("first_us"),
            unix_micros(col("last_ts")).as("last_us"))
      }
        // post-replay per-user rollup — identical algebra to batch
        // `sessionize`, so the two queries share one oracle shape
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          round(sum(col("n_events")).cast("double") / count(lit(1)), 6)
            .as("avg_events"),
          (floor(sum(col("last_us") - col("first_us"))
              .cast("double") / count(lit(1)) + lit(0.5)).cast("long") / 1e6)
            .as("avg_duration_s")),
      """WITH x AS (
          |  SELECT user_id, ts, event_id,
          |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
          |         THEN 1 ELSE 0 END AS new_s
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |), s AS (
          |  SELECT user_id, ts, sum(new_s) OVER (
          |    PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM x
          |), g AS (
          |  SELECT user_id, sid, count(*) AS n_events,
          |    max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
          |  FROM s GROUP BY user_id, sid
          |)
          |SELECT user_id, count(*) AS n_sessions,
          |  round(CAST(sum(n_events) AS DOUBLE) / count(*), 6) AS avg_events,
          |  CAST(floor(CAST(sum(dur_us) AS DOUBLE) / count(*) + 0.5) AS BIGINT) / 1e6 AS avg_duration_s
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- streaming exact dedup, REPLAYED to batch for the oracle
    // (op 80): a real Structured Streaming run — file source →
    // dropDuplicatesWithinWatermark → foreachBatch parquet sink — whose
    // final state DuckDB then checks. Output columns are all functions
    // of the digest (not of WHICH duplicate survived the state race),
    // so the result is deterministic at any parallelism/batching.
    "streaming_dedup" -> Query((s, dir) =>
      streamReplay(s, dir, "documents", "sdedup") { src =>
        // synthetic deterministic event time (documents carry none);
        // 10-year watermark delay => nothing is ever late in replay,
        // while a production ingest would use a real bound
        val docs = src.withColumn("ts", replayTs(col("doc_id")))
        graft.streaming.EventStream
          .dedupExactStream(docs, "doc_id", "text", "ts", "3650 days")
          .select(md5(col("text")).as("digest"),
            length(col("text")).cast("long").as("text_len"))
      },
      // streaming exact dedup replay: final state = one row per distinct
      // text digest; text_len is digest-determined so survivor identity
      // doesn't matter
      """SELECT DISTINCT md5(text) AS digest,
        |  CAST(length(text) AS BIGINT) AS text_len
        |FROM documents ORDER BY digest""".stripMargin),

    // Streaming MinHash near-dup (op 102), REPLAYED to batch: the
    // planted-dup corpus rebuilt IN-STREAM (copies carry larger ids →
    // later event time → always the flagged side); dup_of per doc =
    // min over hit buckets = the earliest sharer overall.
    "streaming_dedup_minhash" -> Query((s, dir) => {
      streamReplay(s, dir, "documents", "smdedup") { src =>
        val base = src.select(col("doc_id"), col("text"))
        val corpus = base
          .unionAll(base.where(col("doc_id") % 50 === 0)
            .select((col("doc_id") + 1000000).as("doc_id"),
              concat(col("text"), lit(" the")).as("text")))
          .unionAll(base.where(col("doc_id") % 97 === 0)
            .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
          .withColumn("ts", replayTs(col("doc_id")))
        graft.streaming.Stateful
          .minhashDedupStream(corpus, "doc_id", "text", "ts").toDF
      }.groupBy(col("doc_id")).agg(min(col("dup_of")).as("dup_of"))
    },
      // Streaming replay oracle: the same band buckets over the
      // planted corpus; event order = doc_id order (replayTs), so
      // dup_of(i) = min earlier doc sharing any band bucket.
      (s"""WITH $CORPUS_CTE,
          |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM corpus),
          |sh AS (
          |  SELECT doc_id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-2, 1) + 1),
          |    i -> array_to_string(toks[i:i+2], ' ')))) AS s
          |  FROM t
          |), ab AS (
          |  SELECT doc_id, ${md5Word(0)} AS a, ${md5Word(8)} AS b
          |  FROM (SELECT doc_id, md5(s) AS h FROM sh)
          |), sig AS (SELECT doc_id, $sigMins FROM ab GROUP BY doc_id),
          |bands AS ($bandSelects)
          |SELECT b1.doc_id AS doc_id, min(b2.doc_id) AS dup_of
          |FROM bands b1 JOIN bands b2
          |  ON b1.band = b2.band AND b1.bucket = b2.bucket AND b2.doc_id < b1.doc_id
          |GROUP BY b1.doc_id ORDER BY 1""".stripMargin)),

    // Stream-static incremental MinHash dedup (op 115), REPLAYED: the
    // planted copies arrive AS the stream; the original documents are
    // the static indexed corpus. The (bucket → min id) index relation
    // is MATERIALIZED to parquet before the stream starts and the
    // stream joins the read-back table — the production flow (index
    // written once per corpus refresh, zero signature math per
    // micro-batch on the static side). Index build+write time lands in
    // setupStats, like the bucketed CTAS. Stateless (no watermark, no
    // state store) — the per-doc min aggregate runs post-replay,
    // mirroring the batch twin exactly (shared oracle SQL).
    "streaming_dedup_incremental" -> Query((s, dir) => {
      val t0 = System.nanoTime()
      val ixPath =
        java.nio.file.Files.createTempDirectory("graft-sinc-ix").toString
      graft.streaming.Stateful.minhashIndexRelation(
          tbl(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text")
        .write.mode("overwrite").parquet(ixPath)
      SparkEntry.setupStats("streaming_dedup_incremental") = (System.nanoTime() - t0) / 1e9
      val ix = s.read.parquet(ixPath)
      streamReplay(s, dir, "documents", "sincdedup") { src =>
        val fresh = src.where(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(" the")).as("text"))
          .unionAll(src.where(col("doc_id") % 97 === 0)
            .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
        graft.streaming.Stateful.minhashIncrementalStreamIndexed(
          fresh, ix, "doc_id", "text")
      }.groupBy(col("doc_id")).agg(min(col("dup_of")).as("dup_of"))
    },
      minhashIncrementalSql),

    // ---- stateful streaming running drawdown, REPLAYED to batch for
    // the oracle (op 72): a real flatMapGroupsWithState run over a file
    // source. Event time is synthesized from event_id (globally unique)
    // so in-batch ties can't reorder the high-water walk — per-row state
    // output is deterministic, and DuckDB replays it as a running-max
    // window. value > 0 filter keeps hw away from 0 (NaN drawdown).
    "streaming_drawdown" -> Query((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "sdd") { src =>
        val ticks = replayTicks(src.where(col("value") > 0))
          .as[graft.streaming.Stateful.Tick]
        graft.streaming.Stateful.runningDrawdown(ticks)
          .select(col("symbol"), unix_micros(col("ts")).as("ts_us"),
            round(col("price"), 6).as("price"),
            round(col("high_water"), 6).as("high_water"),
            round(col("drawdown"), 6).as("drawdown"))
      }
    },
      // stateful streaming drawdown replay: the carried high-water state
      // is exactly a running max over the tie-free event_id order
      """WITH e AS (SELECT event_type, event_id, CAST(value AS DOUBLE) AS value
        |           FROM events WHERE value > 0)
        |SELECT event_type AS symbol,
        |  CAST(1712928600000000 + event_id * 1000 AS BIGINT) AS ts_us,
        |  round(value, 6) AS price,
        |  round(max(value) OVER w, 6) AS high_water,
        |  round(value / max(value) OVER w - 1, 6) AS drawdown
        |FROM e WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
        |ORDER BY symbol, ts_us""".stripMargin),

    // Streaming running TWAP (op 178): the op-176 benchmark live —
    // integer Σqp·Δms / ΣΔms state per symbol (see
    // Stateful.runningTwapStream), replayed by DuckDB as cumulative
    // window sums over the identical quantized integers.
    "streaming_twap" -> Query((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "stwap") { src =>
        val ticks = replayTicks(src)
          .as[graft.streaming.Stateful.Tick]
        graft.streaming.Stateful.runningTwapStream(ticks)
          .select(col("symbol"), unix_micros(col("ts")).as("ts_us"),
            round(col("price"), 6).as("price"),
            (floor(col("twap") * 1e6 + 0.5) / 1e6).as("twap"))
      }
    },
      // qp·Δms / ΣΔms as cumulative integer window sums; Δms = the
      // event_id gap (replay grid is 1 ms per id); floor-quantized
      // output (round's HALF_UP tie behavior never enters).
      """WITH e AS (SELECT event_type, event_id, CAST(value AS DOUBLE) AS value FROM events),
        |d AS (
        |  SELECT event_type, event_id, value,
        |    CAST(floor(lag(value) OVER w * 1e6 + 0.5) AS BIGINT) AS qprev,
        |    event_id - lag(event_id) OVER w AS dtms
        |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
        |), c AS (
        |  SELECT event_type, event_id, value,
        |    CAST(sum(qprev * dtms) OVER w2 AS BIGINT) AS spt,
        |    CAST(sum(dtms) OVER w2 AS BIGINT) AS st
        |  FROM d WHERE dtms IS NOT NULL
        |  WINDOW w2 AS (PARTITION BY event_type ORDER BY event_id ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT event_type AS symbol,
        |  CAST(1712928600000000 + event_id * 1000 AS BIGINT) AS ts_us,
        |  round(value, 6) AS price,
        |  floor((CAST(spt AS DOUBLE) / st / 1e6) * 1e6 + 0.5) / 1e6 AS twap
        |FROM c WHERE st > 0 ORDER BY symbol, ts_us""".stripMargin),
    // Streaming running risk metrics (op 146): per-symbol running
    // log-return mean/vol/Sharpe from INTEGER state (1e-5-quantized
    // returns — addition-order/micro-batch independent, so the batch
    // oracle replays the identical integer sums and derives the same
    // doubles). Three longs of state per symbol; the live risk
    // dashboard twin of the full-sample eod ratio family.
    "streaming_risk" -> Query((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "srisk") { src =>
        val ticks = replayTicks(src.where(col("value") > 0))
          .as[graft.streaming.Stateful.Tick]
        val raw = graft.streaming.Stateful.runningRiskStream(ticks).toDF
        // Derived metrics: IDENTICAL double algebra to the oracle SQL,
        // on identical integer inputs — textual parity is the proof.
        val mean = (col("sumQ") / 100000.0) / col("n")
        val ex2 = (col("sumSqQ") / 10000000000.0) / col("n")
        val varS = when(col("n") >= 2,
          ((ex2 - mean * mean) * col("n")) / (col("n") - 1.0))
        val vol = when(varS > 0, sqrt(varS))
        val sharpe = when(vol > 0, mean / vol * lit(math.sqrt(252.0)))
        raw.select(col("symbol"), unix_micros(col("ts")).as("ts_us"),
          col("retQ").as("ret_q"), col("n"),
          col("sumQ").as("sum_q"), col("sumSqQ").as("sumsq_q"),
          q6(mean).as("run_mean"),
          q6(vol).as("run_vol"),
          q6(sharpe).as("run_sharpe_ann"))
      }
    },
      // streaming running risk: the integer sums replay as cumulative
      // window sums over the same 1e-5-quantized log returns (CAST the
      // window sums — DuckDB returns HUGEINT); derived metrics use the
      // textually identical double algebra as the Spark query.
      """WITH r AS (
        |  SELECT event_type AS symbol, event_id,
        |    ln(value / lag(value) OVER (PARTITION BY event_type ORDER BY event_id)) AS lret
        |  FROM events WHERE value > 0
        |), q AS (
        |  SELECT symbol, event_id,
        |    CAST(floor(lret * 100000.0 + 0.5) AS BIGINT) AS ret_q
        |  FROM r WHERE lret IS NOT NULL
        |), c AS (
        |  SELECT symbol, event_id, ret_q,
        |    CAST(row_number() OVER w2 AS BIGINT) AS n,
        |    CAST(sum(ret_q) OVER w2 AS BIGINT) AS sum_q,
        |    CAST(sum(ret_q * ret_q) OVER w2 AS BIGINT) AS sumsq_q
        |  FROM q WINDOW w2 AS (PARTITION BY symbol ORDER BY event_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), m AS (
        |  SELECT *, (sum_q / 100000.0) / n AS mean,
        |         (sumsq_q / 10000000000.0) / n AS ex2 FROM c
        |), v AS (
        |  SELECT *, CASE WHEN n >= 2
        |    THEN ((ex2 - mean * mean) * n) / (n - 1.0) END AS var_s FROM m
        |), f AS (
        |  SELECT *, CASE WHEN var_s > 0 THEN sqrt(var_s) END AS vol FROM v
        |)
        |SELECT symbol,
        |  CAST(1712928600000000 + event_id * 1000 AS BIGINT) AS ts_us,
        |  ret_q, n, sum_q, sumsq_q,
        |  floor(mean * 1000000.0 + 0.5) / 1000000.0 AS run_mean,
        |  floor(vol * 1000000.0 + 0.5) / 1000000.0 AS run_vol,
        |  floor(CASE WHEN vol > 0 THEN mean / vol * sqrt(252.0) END
        |        * 1000000.0 + 0.5) / 1000000.0 AS run_sharpe_ann
        |FROM f ORDER BY symbol, ts_us""".stripMargin),
    // Streaming CUSUM drift monitor (op 294, the op-284 live twin on
    // the op-146 integer-state pattern): per-symbol Page recursion
    // over 1e-6-quantized SIMPLE returns — no transcendental anywhere,
    // so the state replays bit-exact with zero libm caveats; the
    // oracle reconstructs the recursion with the op-284 prefix-sum
    // closed form on integer cumulative windows. Breach flag at
    // 20 000 micro-units (2% cumulative drift).
    "streaming_cusum" -> Query((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "scusum") { src =>
        val ticks = replayTicks(src.where(col("value") > 0))
          .as[graft.streaming.Stateful.Tick]
        graft.streaming.Stateful.cusumStream(ticks).toDF
          .select(col("symbol"), unix_micros(col("ts")).as("ts_us"),
            col("retQ").as("ret_q"), col("n"),
            col("cusumPos").as("cusum_pos"),
            col("cusumNeg").as("cusum_neg"),
            when(col("cusumPos") > 20000L || col("cusumNeg") > 20000L, 1L)
              .otherwise(0L).as("breach"))
      }
    },
      // op 294: the Page recursion reconstructed via the op-284
      // prefix-sum closed form on INTEGER cumulative windows — exact.
      """WITH r AS (
        |  SELECT event_type AS symbol, event_id,
        |    value / lag(value) OVER (PARTITION BY event_type ORDER BY event_id)
        |      - 1 AS ret
        |  FROM events WHERE value > 0
        |), q AS (
        |  SELECT symbol, event_id,
        |    CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS ret_q
        |  FROM r WHERE ret IS NOT NULL
        |), c AS (
        |  SELECT symbol, event_id, ret_q,
        |    CAST(row_number() OVER w2 AS BIGINT) AS n,
        |    CAST(sum(ret_q) OVER w2 AS BIGINT) AS p
        |  FROM q WINDOW w2 AS (PARTITION BY symbol ORDER BY event_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), m AS (
        |  SELECT symbol, event_id, ret_q, n, p,
        |    p - least(CAST(min(p) OVER w3 AS BIGINT), 0) AS cusum_pos,
        |    greatest(CAST(max(p) OVER w3 AS BIGINT), 0) - p AS cusum_neg
        |  FROM c WINDOW w3 AS (PARTITION BY symbol ORDER BY event_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT symbol,
        |  CAST(1712928600000000 + event_id * 1000 AS BIGINT) AS ts_us,
        |  ret_q, n, cusum_pos, cusum_neg,
        |  CAST(CASE WHEN cusum_pos > 20000 OR cusum_neg > 20000
        |    THEN 1 ELSE 0 END AS BIGINT) AS breach
        |FROM m ORDER BY symbol, ts_us""".stripMargin),
    // Streaming A/B assignment gate (op 399, op 373's live twin at
    // EVENT grain): per-variant running counters (one long of state
    // per arm, arms scale independently), final counts joined
    // post-replay into the 1-df chi-square — the "is assignment
    // broken RIGHT NOW" monitor that fires before a nightly batch
    // SRM would.
    "streaming_ab_gate" -> Query((s, dir) => {
      import s.implicits._
      val sunk = streamReplay(s, dir, "events", "sabgate") { src =>
        val word = conv(substring(md5(concat(lit("ab_"),
          col("user_id").cast("string"))), 1, 8), 16, 10).cast("long")
        src.select(
            when(word % 2 === 0, 0).otherwise(1).as("variant"),
            replayTs(col("event_id")).as("ts"),
            col("event_id").as("eventId"))
          .as[graft.streaming.Stateful.GateEvent]
          .transform(e => graft.streaming.Stateful.abGateStream(e).toDF
            .select(col("variant"), col("n")))
      }
      val finals = sunk.groupBy(col("variant"))
        .agg(max(col("n")).as("cnt"))
      val a = finals.agg(
        sum(when(col("variant") === 0, col("cnt")).otherwise(0L))
          .as("n_a"),
        sum(when(col("variant") === 1, col("cnt")).otherwise(0L))
          .as("n_b"))
      val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
      val chi2 = (na - nb) * (na - nb) / (na + nb)
      a.select(col("n_a"), col("n_b"),
        round(chi2, 6).as("chi2"),
        when(round(chi2, 6) > 3.841459, 1L).otherwise(0L).as("srm_flag"))
    },
      // op 399: event-grain variant counts (the live gate's grain),
      // the op-373 chi-square closed form.
      s"""WITH v AS (
          |  SELECT CASE WHEN ${w8("md5('ab_' || CAST(user_id AS VARCHAR))")} % 2 = 0
          |    THEN 0 ELSE 1 END AS variant
          |  FROM events
          |), a AS (
          |  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          |  FROM v
          |)
          |SELECT n_a, n_b,
          |  round((CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))
          |    * (CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))
          |    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)), 6) AS chi2,
          |  CAST(CASE WHEN round((CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))
          |    * (CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))
          |    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)), 6) > 3.841459
          |    THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
          |FROM a""".stripMargin),
    // Streaming win/loss streaks (op 386, the op-212 live twin):
    // per-symbol current-streak state on the same value>0-guarded
    // quantized-return replay as streaming_cusum; sign recursion is
    // transcendental-free so the batch oracle replays it with the
    // standard island prefix windows.
    "streaming_streaks" -> Query((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "sstreaks") { src =>
        val ticks = replayTicks(src.where(col("value") > 0))
          .as[graft.streaming.Stateful.Tick]
        graft.streaming.Stateful.streaksStream(ticks).toDF
          .select(col("symbol"), unix_micros(col("ts")).as("ts_us"),
            col("sgn").cast("long").as("sgn"), col("len"),
            col("maxWin").as("max_win_streak"),
            col("maxLoss").as("max_loss_streak"))
      }
    },
      // op 386: the op-284 replay order (event_id, value>0), sign
      // islands via the standard double-row_number trick, running
      // maxima over the island-position prefix.
      """WITH r AS (
        |  SELECT event_type AS symbol, event_id,
        |    value / lag(value) OVER (PARTITION BY event_type ORDER BY event_id)
        |      - 1 AS ret
        |  FROM events WHERE value > 0
        |), q AS (
        |  SELECT symbol, event_id,
        |    CASE WHEN floor(ret * 1000000.0 + 0.5) > 0 THEN 1
        |         WHEN floor(ret * 1000000.0 + 0.5) < 0 THEN -1
        |         ELSE 0 END AS sgn
        |  FROM r WHERE ret IS NOT NULL
        |), i AS (
        |  SELECT symbol, event_id, sgn,
        |    row_number() OVER (PARTITION BY symbol ORDER BY event_id)
        |      - row_number() OVER (PARTITION BY symbol, sgn ORDER BY event_id)
        |      AS grp
        |  FROM q
        |), l AS (
        |  SELECT symbol, event_id, sgn,
        |    CAST(row_number() OVER (PARTITION BY symbol, sgn, grp
        |                            ORDER BY event_id) AS BIGINT) AS len
        |  FROM i
        |)
        |SELECT symbol,
        |  CAST(1712928600000000 + event_id * 1000 AS BIGINT) AS ts_us,
        |  CAST(sgn AS BIGINT) AS sgn, len,
        |  CAST(coalesce(max(CASE WHEN sgn = 1 THEN len END) OVER w, 0)
        |    AS BIGINT) AS max_win_streak,
        |  CAST(coalesce(max(CASE WHEN sgn = -1 THEN len END) OVER w, 0)
        |    AS BIGINT) AS max_loss_streak
        |FROM l WINDOW w AS (PARTITION BY symbol ORDER BY event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY symbol, ts_us""".stripMargin),
    // Streaming PSI drift monitor (op 322, the op-320 live twin on
    // the op-294 replay pattern): per-symbol 1e-6-quantized returns
    // from the cusumStream state (value>0-guarded, event_id replay
    // order), binned to the 1e-3 grid POST-REPLAY by exact float
    // floor on integers < 2^53 (both engines' floor agrees there;
    // integer `div` would truncate negatives toward zero and
    // misplace a bin). The final sink counts equal what an Update-
    // mode bin aggregation would hold, so this is the live "has the
    // return distribution drifted vs the benchmark" gate at ingest
    // latency; PSI algebra identical to op 320.
    "streaming_psi" -> Query((s, dir) => {
      import s.implicits._
      val sunk = streamReplay(s, dir, "events", "spsi") { src =>
        val ticks = replayTicks(src.where(col("value") > 0))
          .as[graft.streaming.Stateful.Tick]
        graft.streaming.Stateful.cusumStream(ticks).toDF
          .select(col("symbol"), col("retQ"))
      }
      val binned = sunk.withColumn("bin",
        greatest(lit(-10000L), least(lit(10000L),
          floor(col("retQ").cast("double") / 1000.0).cast("long"))))
      val cnt = binned.groupBy(col("symbol"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val tot = binned.groupBy(col("symbol")).agg(count(lit(1)).as("nt"))
      val ct = cnt.join(tot, "symbol")
      val aSide = ct.where(col("symbol") =!= "view")
        .select(col("symbol").as("event_type"), col("bin"),
          col("c").as("ca"), col("nt").as("na"))
      val bSide = ct.where(col("symbol") === "view")
        .select(col("bin"), col("c").as("cb"), col("nt").as("nb"))
      val p = col("ca").cast("double") / col("na").cast("double")
      val q = col("cb").cast("double") / col("nb").cast("double")
      aSide.join(bSide, "bin")
        .withColumn("term", (p - q) * log(p / q))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_bins"),
          round(sum(col("term")), 6).as("psi"))
        .withColumn("verdict",
          when(col("psi") < 0.1, "stable")
            .when(col("psi") < 0.25, "moderate").otherwise("shifted"))
    },
      // op 322: the op-294 return reconstruction (event_id order,
      // value>0), the same float-floor binning, op-320's PSI algebra.
      """WITH r AS (
        |  SELECT event_type AS symbol,
        |    value / lag(value) OVER (PARTITION BY event_type ORDER BY event_id)
        |      - 1 AS ret
        |  FROM events WHERE value > 0
        |), b AS (
        |  SELECT symbol,
        |    greatest(-10000, least(10000, CAST(floor(
        |      CAST(CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE)
        |        / 1000.0) AS BIGINT))) AS bin
        |  FROM r WHERE ret IS NOT NULL
        |), cnt AS (
        |  SELECT symbol, bin, count(*) AS c FROM b GROUP BY 1, 2
        |), tot AS (
        |  SELECT symbol, count(*) AS nt FROM b GROUP BY 1
        |), terms AS (
        |  SELECT a.symbol AS event_type,
        |    (CAST(a.c AS DOUBLE) / ta.nt - CAST(v.c AS DOUBLE) / tv.nt) *
        |    ln((CAST(a.c AS DOUBLE) / ta.nt) /
        |       (CAST(v.c AS DOUBLE) / tv.nt)) AS term
        |  FROM cnt a
        |  JOIN tot ta ON ta.symbol = a.symbol
        |  JOIN cnt v ON v.bin = a.bin AND v.symbol = 'view'
        |  JOIN tot tv ON tv.symbol = 'view'
        |  WHERE a.symbol <> 'view'
        |), s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_bins,
        |    round(sum(term), 6) AS psi
        |  FROM terms GROUP BY event_type
        |)
        |SELECT event_type, n_bins, psi,
        |  CASE WHEN psi < 0.1 THEN 'stable'
        |       WHEN psi < 0.25 THEN 'moderate'
        |       ELSE 'shifted' END AS verdict
        |FROM s ORDER BY event_type""".stripMargin),
    // Streaming chi-square drift monitor (op 246, the op-241 live
    // twin on the op-161 pattern): the source × lang contingency
    // cells only grow, so the max-merged Update sink equals the
    // batch table and the χ² report (same exact expected-count
    // algebra) replays the batch oracle — "has the language mix
    // drifted" at ingest latency.
    "streaming_chi2" -> Twin((s, dir) => {
      val sunk = streamReplay(s, dir, "documents", "schi2",
        mode = "update") { src =>
        src.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("o"))
      }
      val o = sunk.groupBy(col("source"), col("lang"))
        .agg(max(col("o")).as("o"))
      val rowT = o.groupBy(col("source")).agg(sum(col("o")).as("rt"))
      val colT = o.groupBy(col("lang")).agg(sum(col("o")).as("ct"))
      val tot = o.agg(sum(col("o")).as("n"))
      val cells = o.join(broadcast(rowT), "source")
        .join(broadcast(colT), "lang")
        .crossJoin(broadcast(tot))
        .withColumn("e", (col("rt") * col("ct")).cast("double") /
          col("n").cast("double"))
        .withColumn("t", floor((col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e") * 1e9 + 0.5)
          .cast("long"))
      cells.agg(count(lit(1)).as("n_cells"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          (sum(col("t")).cast("double") / 1e9).as("chi2r"))
        .select(col("n_cells"),
          ((col("n_sources") - 1) * (col("n_langs") - 1)).as("dof"),
          round(col("chi2r"), 6).as("chi2"))
    },
      // op 246: contingency cells only grow — same argument, same
      // exact χ² algebra on the max-merged final counts.
      batch = "stats_chi2_independence"),
    // Streaming bipower variation (op 224, the op-211 batch op's
    // live twin on the op-146 pattern): per-symbol running Σ(lr²)
    // and Σ(|lr_i||lr_{i−1}|) as 1e-12-quantized INTEGER state, the
    // Append sink max-merged (sums only grow) into the final
    // RV/BV/jump-share report — "was that move a jump?" at ingest
    // latency. Derived metrics use the q6 floor convention on
    // identical integers.
    "streaming_bipower" -> Query((s, dir) => {
      import s.implicits._
      val sunk = streamReplay(s, dir, "events", "sbp") { src =>
        val ticks = replayTicks(src.where(col("value") > 0))
          .as[graft.streaming.Stateful.Tick]
        graft.streaming.Stateful.bipowerStream(ticks).toDF
      }
      val rv0 = max(col("sumRvQ")).cast("double") / 1e12
      val bv0 = lit(PiOver2) * (max(col("sumBvQ")).cast("double") / 1e12)
      sunk.groupBy(col("symbol"))
        .agg(max(col("n")).as("n"),
          max(col("sumRvQ")).as("sum_rv_q"),
          max(col("sumBvQ")).as("sum_bv_q"),
          q6(rv0).as("rv"), q6(bv0).as("bv"),
          q6(greatest(lit(0.0), lit(1.0) - bv0 / rv0)).as("jump_share"))
    },
      // op 224: the same ln(value/lag) sequence, the same 1e-12
      // product quantization, totals = the max-merged stream state.
      """WITH r AS (
        |  SELECT event_type AS symbol, event_id,
        |    ln(value / lag(value) OVER (PARTITION BY event_type ORDER BY event_id)) AS lr
        |  FROM events WHERE value > 0
        |), l AS (
        |  SELECT symbol, lr,
        |    lag(lr) OVER (PARTITION BY symbol ORDER BY event_id) AS lp
        |  FROM r WHERE lr IS NOT NULL
        |), q AS (
        |  SELECT symbol,
        |    CAST(floor(lr * lr * 1e12 + 0.5) AS BIGINT) AS qr,
        |    CASE WHEN lp IS NOT NULL
        |         THEN CAST(floor(abs(lr) * abs(lp) * 1e12 + 0.5) AS BIGINT)
        |         ELSE 0 END AS qb
        |  FROM l
        |), a AS (
        |  SELECT symbol, count(*) AS n,
        |    CAST(sum(qr) AS BIGINT) AS srv, CAST(sum(qb) AS BIGINT) AS sbv
        |  FROM q GROUP BY symbol
        |), d AS (
        |  SELECT symbol, n, srv, sbv,
        |    CAST(srv AS DOUBLE) / 1e12 AS rv0,
        |    1.5707963267948966 * (CAST(sbv AS DOUBLE) / 1e12) AS bv0
        |  FROM a
        |)
        |SELECT symbol, n, srv AS sum_rv_q, sbv AS sum_bv_q,
        |  floor(rv0 * 1000000.0 + 0.5) / 1000000.0 AS rv,
        |  floor(bv0 * 1000000.0 + 0.5) / 1000000.0 AS bv,
        |  floor(greatest(0.0, 1.0 - bv0 / rv0) * 1000000.0 + 0.5) / 1000000.0 AS jump_share
        |FROM d ORDER BY symbol""".stripMargin),
    // Streaming z-score anomaly gate (op 188): each tick scored
    // against the PRIOR running state — z = (r − mean')/vol' with
    // (n', Σq', Σq²') = the op-146 integer state MINUS the tick's own
    // contribution, so the score never conditions on the value it
    // judges. Pure derived algebra on the RiskRow integers: the state
    // op is runningRiskStream unchanged (3 longs/symbol), the oracle
    // replays the identical lag-free in-row subtraction. Flag compares
    // the FLOORED z (the q6 convention) so the 3σ threshold test is
    // the same deterministic double comparison on both engines.
    "streaming_zscore" -> Query((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "szs") { src =>
        val ticks = replayTicks(src.where(col("value") > 0))
          .as[graft.streaming.Stateful.Tick]
        val raw = graft.streaming.Stateful.runningRiskStream(ticks).toDF
        val nP = col("n") - 1L
        val sumP = col("sumQ") - col("retQ")
        val sumsqP = col("sumSqQ") - col("retQ") * col("retQ")
        val meanP = (sumP / 100000.0) / nP
        val ex2P = (sumsqP / 10000000000.0) / nP
        val varP = when(nP >= 2, ((ex2P - meanP * meanP) * nP) / (nP - 1.0))
        val volP = when(varP > 0, sqrt(varP))
        val z = when(volP > 0, (col("retQ") / 100000.0 - meanP) / volP)
        raw.select(col("symbol"), unix_micros(col("ts")).as("ts_us"),
          col("retQ").as("ret_q"),
          q6(z).as("z"),
          (abs(q6(z)) > 3.0).as("is_anom"))
      }
    },
      // op 188: the op-146 integer state minus the tick's own
      // contribution (in-row subtraction, no extra lag), identical
      // algebra to the Spark query; the flag tests the FLOORED z.
      """WITH r AS (
        |  SELECT event_type AS symbol, event_id,
        |    ln(value / lag(value) OVER (PARTITION BY event_type ORDER BY event_id)) AS lret
        |  FROM events WHERE value > 0
        |), q AS (
        |  SELECT symbol, event_id,
        |    CAST(floor(lret * 100000.0 + 0.5) AS BIGINT) AS ret_q
        |  FROM r WHERE lret IS NOT NULL
        |), c AS (
        |  SELECT symbol, event_id, ret_q,
        |    CAST(row_number() OVER w2 AS BIGINT) - 1 AS np,
        |    CAST(sum(ret_q) OVER w2 AS BIGINT) - ret_q AS sump,
        |    CAST(sum(ret_q * ret_q) OVER w2 AS BIGINT) - ret_q * ret_q AS sumsqp
        |  FROM q WINDOW w2 AS (PARTITION BY symbol ORDER BY event_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), m AS (
        |  SELECT *, (sump / 100000.0) / np AS meanp,
        |         (sumsqp / 10000000000.0) / np AS ex2p FROM c WHERE TRUE
        |), v AS (
        |  SELECT *, CASE WHEN np >= 2
        |    THEN ((ex2p - meanp * meanp) * np) / (np - 1.0) END AS varp FROM m
        |), f AS (
        |  SELECT *, CASE WHEN varp > 0 THEN sqrt(varp) END AS volp FROM v
        |), z AS (
        |  SELECT *, floor(CASE WHEN volp > 0
        |      THEN (ret_q / 100000.0 - meanp) / volp END
        |      * 1000000.0 + 0.5) / 1000000.0 AS z
        |  FROM f
        |)
        |SELECT symbol,
        |  CAST(1712928600000000 + event_id * 1000 AS BIGINT) AS ts_us,
        |  ret_q, z, abs(z) > 3.0 AS is_anom
        |FROM z ORDER BY symbol, ts_us""".stripMargin),

    // ---- streaming windowed agg, REPLAYED to batch (op 58): the real
    // readStream → watermark → window agg path in Append mode. A
    // sentinel row far in the future pushes the final watermark past
    // every real window so the no-data closing batch flushes them all;
    // the sentinel's own window is excluded by event_type.
    "streaming_window_agg" -> Query((s, dir) =>
      sentinelReplay(s, dir, "swa", "event_type", lit("zz_sentinel")) { src =>
        graft.streaming.EventStream
          .windowedStats(graft.sources.Tables.normalizeEventTs(src),
            "1 hour", "0 seconds")
          .select(unix_micros(col("window.start")).as("ws"), col("event_type"),
            col("n"), round(col("sum_value"), 4).as("sum_value"))
      },
      // streaming windowed agg replay: once every window is flushed, the
      // append-mode stream equals the batch tumbling-window agg
      """SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin),

    // ---- streaming as-of quote enrichment, REPLAYED to batch (op 73):
    // one interleaved stream (even event_id = quote, odd = trade) keyed
    // by symbol; state carries the prevailing quote. Event times are
    // 1 ms apart by event_id, so ordering is tie-free and latencies are
    // exact integer ms on both engines.
    "streaming_asof" -> Query((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "sao") { src =>
        val mkts = replayTicks(src,
            when(col("event_id") % 2 === 0, lit("quote")).otherwise(lit("trade"))
              .as("kind"),
            col("value").cast("double").as("bid"),
            (col("value") + lit(1.0)).cast("double").as("ask"))
          .as[graft.streaming.Stateful.MarketEvent]
        graft.streaming.Stateful.asOfEnrich(mkts)
          .select(col("symbol"), unix_micros(col("ts")).as("ts_us"),
            round(col("price"), 6).as("price"), round(col("bid"), 6).as("bid"),
            round(col("ask"), 6).as("ask"), round(col("mid"), 6).as("mid"),
            col("latency_ms"))
      }
    },
      // streaming as-of replay: prevailing quote = last quote at-or-before
      // each trade in the tie-free 1 ms-per-event_id order
      """WITH u AS (
        |  SELECT event_type AS symbol,
        |    CAST(1712928600000000 + event_id * 1000 AS BIGINT) AS ts_us,
        |    CAST(value AS DOUBLE) AS value, event_id % 2 = 0 AS is_quote
        |  FROM events
        |), c AS (
        |  SELECT symbol, ts_us, value, is_quote,
        |    last_value(CASE WHEN is_quote THEN value END IGNORE NULLS) OVER w AS qbid,
        |    last_value(CASE WHEN is_quote THEN ts_us END IGNORE NULLS) OVER w AS qts
        |  FROM u WINDOW w AS (PARTITION BY symbol ORDER BY ts_us
        |                      ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT symbol, ts_us, round(value, 6) AS price,
        |  round(qbid, 6) AS bid, round(qbid + 1.0, 6) AS ask,
        |  round((qbid + (qbid + 1.0)) / 2, 6) AS mid,
        |  CAST((ts_us - qts) // 1000 AS BIGINT) AS latency_ms
        |FROM c WHERE NOT is_quote AND qbid IS NOT NULL
        |ORDER BY symbol, ts_us""".stripMargin),

    // ---- streaming tick rule via transformWithState, REPLAYED to
    // batch (op 74): lag(price) as per-symbol RocksDB ValueState;
    // tie-free synthetic event time as in streaming_drawdown.
    "streaming_tick_rule" -> Query((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try streamReplay(s, dir, "events", "str") { src =>
        val ticks = replayTicks(src).as[graft.streaming.Stateful.Tick]
        graft.streaming.Stateful.tickRule(ticks)
          .select(col("symbol"), unix_micros(col("ts")).as("ts_us"),
            round(col("price"), 6).as("price"), col("direction"))
      } finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    },
      // streaming tick rule replay: ValueState lag(price) over the
      // tie-free event_id order
      """SELECT event_type AS symbol,
        |  CAST(1712928600000000 + event_id * 1000 AS BIGINT) AS ts_us,
        |  round(value, 6) AS price,
        |  CAST(CASE WHEN value > lag(value) OVER w THEN 1
        |            WHEN value < lag(value) OVER w THEN -1
        |            ELSE 0 END AS INT) AS direction
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
        |ORDER BY symbol, ts_us""".stripMargin),
    // Streaming information-driven bars (op 136): the stream carries
    // ONE long of state per symbol (the exclusive unit prefix) and
    // stamps each tick with its bar id; integer units make the prefix
    // exact under any micro-batching, so streamed ids equal the batch
    // ids and the OHLCV report runs batch over the sink (oracles
    // shared with tick_volume_bars / tick_dollar_bars). replayTs
    // ordering == (ts, event_id) ordering: events' ts is unique and
    // monotone in event_id within each series.
    "streaming_volume_bars" -> Twin((s, dir) => {
      import s.implicits._
      val sunk = streamReplay(s, dir, "events", "svb") { src =>
        graft.streaming.Stateful.volumeBarStream(
          replayTicks(src, volume.as("volume")).as[graft.streaming.Stateful.VolTick],
          threshold = 5000L).toDF()
      }
      barSinkReport(sunk)
    },
      // op 136: streamed bar ids equal the batch ids (exact integer
      // prefix state), so the bar twins replay the batch bar oracles.
      batch = "tick_volume_bars"),
    // Streaming VPIN (op 194): one state transition stamps each tick
    // with its equal-volume bucket AND tick-rule direction (integer
    // prefix + last price — both micro-batch exact), so the toxicity
    // report over the sink equals the batch op and shares its oracle.
    "streaming_vpin" -> Twin((s, dir) => {
      import s.implicits._
      val sunk = streamReplay(s, dir, "events", "svp") { src =>
        graft.streaming.Stateful.vpinStream(
          replayTicks(src, volume.as("volume")).as[graft.streaming.Stateful.VolTick],
          threshold = 5000L).toDF()
      }
      sunk.groupBy(col("symbol").as("event_type"), col("bar"))
        .agg(sum(when(col("dirn") === 1, col("volume")).otherwise(0.0))
          .as("vb"),
          sum(when(col("dirn") === -1, col("volume")).otherwise(0.0))
            .as("vs"),
          sum(col("volume")).as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_buckets"),
          round(sum(abs(col("vb") - col("vs"))) / sum(col("v")), 6)
            .as("vpin"))
    },
      // op 194: the stamped (bar, dirn, volume) triples equal the
      // batch op's (integer prefix + order-pinned last price), so the
      // sink-side toxicity report replays the batch VPIN oracle.
      batch = "tick_vpin"),
    "streaming_dollar_bars" -> Twin((s, dir) => {
      import s.implicits._
      val sunk = streamReplay(s, dir, "events", "sdb") { src =>
        graft.streaming.Stateful.dollarBarStream(
          replayTicks(src, volume.as("volume")).as[graft.streaming.Stateful.VolTick],
          thresholdCents = 50000000L).toDF()
      }
      barSinkReport(sunk)
    },
      batch = "tick_dollar_bars"),
    // op 138: watermarked stream-stream time-bounded join — trades
    // (purchase) joined to the last day of quotes (view) per user, both
    // sides streaming. Inner-join pairs emit exactly once under any
    // micro-batching; the 31-day delay covers the whole corpus span so
    // the replayed sink equals the batch join and the oracle is plain
    // SQL. Real event time (the ns→µs normalized ts), not replay time:
    // the join semantics are about the data's own clock.
    "streaming_interval_join" -> Query((s, dir) => {
      streamReplay(s, dir, "events", "sij") { src =>
        val e = graft.sources.Tables.normalizeEventTs(src)
        val trades = e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("t_ts"),
            col("event_id").as("trade_id"), col("value").as("trade_value"))
        val quotes = e.where(col("event_type") === "view")
          .select(col("user_id").as("q_user_id"), col("ts").as("q_ts"),
            col("event_id").as("quote_id"), col("value").as("quote_value"))
        graft.streaming.EventStream.timeBoundedJoin(trades, quotes,
            "user_id", "q_user_id", "t_ts", "q_ts",
            lookbackSec = 86400L, delay = "31 days")
          .select(col("trade_id"), col("quote_id"), col("user_id"),
            round(col("trade_value"), 6).as("trade_value"),
            round(col("quote_value"), 6).as("quote_value"),
            (unix_micros(col("t_ts")) - unix_micros(col("q_ts"))).as("age_us"))
      }
    },
      // stream-stream time-bounded join replay: with the delay covering
      // the corpus span nothing is late-dropped, so the inner-join sink
      // equals the batch join; µs-integer comparisons on both engines
      """WITH t AS (SELECT user_id, epoch_us(ts) AS tus, event_id AS trade_id,
        |             value AS trade_value
        |           FROM events WHERE event_type = 'purchase'),
        |q AS (SELECT user_id AS q_user_id, epoch_us(ts) AS qus,
        |        event_id AS quote_id, value AS quote_value
        |      FROM events WHERE event_type = 'view')
        |SELECT t.trade_id, q.quote_id, t.user_id,
        |  round(t.trade_value, 6) AS trade_value,
        |  round(q.quote_value, 6) AS quote_value,
        |  t.tus - q.qus AS age_us
        |FROM t JOIN q ON t.user_id = q.q_user_id
        |  AND q.qus BETWEEN t.tus - 86400000000 AND t.tus
        |ORDER BY trade_id, quote_id""".stripMargin),
    // Streaming twin (op 123): the stream maintains the register table
    // (Update-mode agg, state = m rows/group BY CONSTRUCTION, no
    // watermark needed); estimates are a batch read over the sink.
    // max is replay/duplicate-insensitive, so the streamed registers —
    // and therefore every estimate — equal the batch op bit-for-bit
    // (oracle shared with sketch_hll).
    // Streaming quality gate (op 170): the Gopher rules applied to
    // the ingest stream — the op is pure per-row array algebra (no
    // shuffle, no state), so the streaming plan is the batch plan
    // behind a file source and the Append sink equals the batch
    // table row-for-row; oracle shared with corpus_gopher. This is
    // the curation FILTER running at ingest time instead of as a
    // nightly batch — at 100 TB the difference between storing raw
    // and storing curated.
    "streaming_quality_gate" -> Twin((s, dir) =>
      streamReplay(s, dir, "documents", "sgate") { src =>
        Corpus.gopherQualityRules(src, "doc_id", "text")
      },
      // op 170: the gate is map-only (no state, no shuffle), so the
      // streamed Append sink equals the batch table row-for-row.
      batch = "corpus_gopher"),
    // Streaming readability scoring (op 283, the op-170 stateless-gate
    // pattern on op 276): the regex counts and score algebra are pure
    // per-row maps, so the streaming plan IS the batch plan behind a
    // file source — each arriving doc is scored at ingest, the Append
    // sink equals the batch table row-for-row, oracle shared with
    // text_readability.
    "streaming_readability" -> Twin((s, dir) =>
      streamReplay(s, dir, "documents", "sread")(readabilityScores),
      // op 283: same stateless-map argument for the readability gate.
      batch = "text_readability"),
    // Streaming split assignment (op 201, the op-170 stateless-gate
    // pattern on op 197): the md5-coin split is a pure per-row map, so
    // the streaming plan IS the batch plan behind a file source — each
    // arriving doc is stamped train/val/test at ingest, the Append
    // sink equals the batch assignment row-for-row, and the manifest
    // report over the sink shares corpus_split's oracle.
    "streaming_split" -> Twin((s, dir) => {
      val u = Corpus.md5Uniform(col("doc_id"))
      val sunk = streamReplay(s, dir, "documents", "ssplit") { src =>
        src.select(col("source"), col("doc_id"),
          when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
            .as("split"),
          Text.tokenCount(col("text")).cast("long").as("ntok"))
      }
      sunk.groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
        .withColumn("frac",
          round(col("n_docs").cast("double")
            / sum(col("n_docs")).over(Window.partitionBy(col("source"))), 6))
    },
      // op 201: the split map is stateless, the sink equals the batch
      // assignment row-for-row → the manifest replays op 197's oracle.
      batch = "corpus_split"),
    // Streaming mixture monitor (op 161): per-source doc/token counts
    // as a declarative Update-mode streaming aggregation — state is
    // ONE row per source by construction, no watermark needed. Counts
    // only grow, so the max-merged sink IS the final count table (the
    // op-123/142 argument) and the shared quantized weight algebra
    // (Corpus.mixtureWeightsFromCounts) reproduces the batch mixture
    // exactly — the live view of "what is the mix right now" during
    // ingestion, sharing corpus_mixture's oracle.
    "streaming_mixture" -> Twin((s, dir) => {
      val sunk = streamReplay(s, dir, "documents", "smix",
        mode = "update") { src =>
        src.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(Text.tokenCount(col("text")).cast("long")).as("n_tokens"))
      }
      Corpus.mixtureWeightsFromCounts(
          sunk.groupBy(col("source"))
            .agg(max(col("n_docs")).as("n_docs"),
              max(col("n_tokens")).as("n_tokens"))
            .withColumnRenamed("source", "stratum"),
          alpha = 0.5)
        .select(col("stratum").as("source"), col("n_docs"),
          col("n_tokens"), col("share"), col("weight"))
    },
      // op 161: per-source counts only grow, so the max-merged Update
      // sink equals the batch count table and the shared quantized
      // weight algebra replays the batch mixture oracle.
      batch = "corpus_mixture"),
    // Streaming intraday volume profile (op 244, the op-242 live
    // twin on the op-161 pattern): per-(symbol, hour) integer volume
    // counts only grow, so the max-merged Update sink equals the
    // batch table and the share report replays the batch oracle.
    "streaming_volume_profile" -> Twin((s, dir) => {
      val sunk = streamReplay(s, dir, "events", "svprof",
        mode = "update") { src =>
        src.groupBy(col("event_type"), hour(col("ts")).as("hr"))
          .agg(sum((col("event_id") % 100 + 1).cast("long")).as("vol"),
            count(lit(1)).as("n_trades"))
      }
      val h = sunk.groupBy(col("event_type"), col("hr"))
        .agg(max(col("vol")).as("vol"), max(col("n_trades")).as("n_trades"))
      val t = h.groupBy(col("event_type")).agg(sum(col("vol")).as("tv"))
      h.join(t, "event_type")
        .select(col("event_type"), col("hr"), col("n_trades"), col("vol"),
          round(col("vol").cast("double") / col("tv").cast("double"), 6)
            .as("vol_share"))
    },
      // op 244: per-(symbol, hour) integer volume counts only grow,
      // so the max-merged Update sink equals the batch table and the
      // share report replays op 242's oracle.
      batch = "tick_volume_profile"),
    "streaming_hll" -> Twin((s, dir) => {
      // State = sources×256 register rows — the small-state replay
      // shape ReplayPartitions is sized for.
      val sunk = streamReplay(s, dir, "documents", "streaming_hll",
        mode = "update") { src =>
        graft.streaming.EventStream.hllRegisterStream(
          src.select(col("source"), explode(Text.tokens(col("text"))).as("tok")),
          "source", "tok", m = 256)
      }
      // Re-merge: Update mode may emit a register several times across
      // micro-batches; max-merge makes the read idempotent.
      hllReport(s, dir, sunk.groupBy(col("source"), col("reg"))
        .agg(max(col("max_rank")).as("max_rank")))
    },
      // ops 123/124: the streamed sketch state equals the batch state
      // (HLL registers max-merge; CMS counters only grow, so the sink
      // max-merge is the final cumulative table) — the streaming queries
      // share the batch ops' oracles.
      batch = "sketch_hll"),
    // Streaming twin (op 142): the histogram is an Update-mode
    // streaming agg with construction-bounded state (≤ nBins counts
    // per type, no watermark — the same O(1)-state family as
    // streaming_hll/cms/kmv). Counts only grow, so a max-merge over
    // the Update sink reconstructs the batch bin table exactly and the
    // report shares sketch_quantiles' oracle.
    "streaming_quantiles" -> Twin((s, dir) => {
      val sunk = streamReplay(s, dir, "events", "sqh",
        mode = "update") { src =>
          Sketch.histSketch(graft.sources.Tables.normalizeEventTs(src),
            Seq("event_type"), "value", lo = 0.0, hi = 512.0, nBins = 128)
      }
      histQuantileReport(sunk.groupBy(col("event_type"), col("bin"))
        .agg(max(col("cnt")).as("cnt")))
    },
      // op 142: counts only grow, so the max-merged Update sink equals
      // the batch bin table and the report replays the batch oracle.
      batch = "sketch_quantiles"),
    // Streaming twin (op 132): flatMapGroupsWithState maintains the
    // per-source bottom-k distinct-hash array (construction-bounded
    // state — k longs/group, the KMV analogue of op 123's register
    // rows); the hash is staged with the batch op's own expression.
    // Bottom-k of a union = bottom-k of the union of bottom-ks, and
    // Update-mode re-emissions only repeat historical sketch subsets,
    // so distinct + per-group bottom-k over the sink reconstructs the
    // batch sketch bit-for-bit (oracle shared with sketch_kmv).
    "streaming_kmv" -> Twin((s, dir) => {
      import s.implicits._
      val sunk = streamReplay(s, dir,
        "documents", "streaming_kmv", mode = "update") { src =>
        graft.streaming.Stateful.kmvSketchStream(
          src.select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
            .where(col("tok").isNotNull)
            .select(col("source").as("g"), Sketch.kmvHash(col("tok")).as("h"))
            .as[graft.streaming.Stateful.KmvIn],
          k = 64).toDF()
      }
      val wG = Window.partitionBy(col("source")).orderBy(col("h"))
      val sk = sunk.select(col("g").as("source"), col("h")).distinct()
        .withColumn("rank", row_number().over(wG))
        .where(col("rank") <= 64)
      kmvReport(s, dir, sk)
    },
      batch = "sketch_kmv"),
    // Streaming Count-Min (op 124): the stream maintains the fixed
    // depth×width counter table (Update-mode agg, construction-bounded
    // state); counters only grow, so max-merging the sink reconstructs
    // the batch table exactly and the heavy-hitter probe runs batch
    // over it (oracle shared with sketch_cms_topk).
    "streaming_cms" -> Twin((s, dir) => {
      val sunk = streamReplay(s, dir,
        "documents", "streaming_cms", mode = "update") { src =>
        graft.streaming.EventStream.cmsCounterStream(
          src.select(explode(Text.tokens(col("text"))).as("tok")),
          "tok", depth = 4, width = 1024)
      }
      val counters = sunk.groupBy(col("j"), col("pos"))
        .agg(max(col("cnt")).cast("long").as("cnt"))
      val toks = tbl(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
      Sketch.cmsProbeTopK(toks, "tok", counters, depth = 4, width = 1024,
          topK = 20)
        .select(col("v").as("token"), col("est_cnt"), col("exact_cnt"))
    },
      batch = "sketch_cms_topk"),
    // Streaming space-saving top-k (op 145): heavy hitters with
    // CONSTANT state by construction — buckets×capacity counters, each
    // token hash-sharded to exactly one bucket's space-saving instance
    // (flatMapGroupsWithState). Counts only grow, so max-merge over the
    // Update-mode sink reconstructs the final counters; the global
    // top-20 is a batch scan of that sink. While buckets have spare
    // capacity counts are exact (err = 0) — the regime the oracle
    // replays. Past capacity an evicted slot's count is inherited and
    // the top-20 overcounts, so any sink row with err > 0 raises (in
    // or out of the top 20) instead of returning inflated counts.
    "streaming_topk" -> Query((s, dir) => {
      import s.implicits._
      val capacity = 16
      val sunk = streamReplay(s, dir, "documents", "sstopk",
        mode = "update") { src =>
        val in = src.select(explode(Text.tokens(col("text"))).as("tok"))
          .select((Sketch.kmvHash(col("tok")) % 16).cast("int").as("bucket"),
            col("tok").as("token"))
          .as[graft.streaming.Stateful.SSIn]
        graft.streaming.Stateful.spaceSavingStream(in, capacity).toDF()
      }
      sunk.withColumn("err", when(col("err") > 0, raise_error(concat(
          lit("streaming_topk: bucket "), col("bucket").cast("string"),
          lit(s" holds more than $capacity distinct tokens (space-saving " +
            s"capacity $capacity); its counts would be overcounted"))))
          .otherwise(col("err")))
        .groupBy(col("bucket"), col("token"))
        .agg(max(col("cnt")).as("cnt"), max(col("err")).as("err"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)
        .select(col("token"), col("cnt"), col("err"))
    },
      // Streaming space-saving top-k: while every hash bucket has
      // spare capacity the maintained counts are EXACT (err = 0), so
      // the oracle is the plain exact top-20 token count — the same
      // exactness argument the CMS/KMV streaming twins replay.
      ("WITH tk AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents) " +
          "SELECT tok AS token, count(*) AS cnt, CAST(0 AS BIGINT) AS err " +
          "FROM tk GROUP BY tok ORDER BY cnt DESC, token LIMIT 20")),
    // Streaming fixed-n stratified sample (op 147): per-source bottom-5
    // by the md5 coin, maintained in constant state (5 (key, id) pairs
    // per stratum — the KMV bottom-k merge argument applied to
    // sampling). distinct + per-stratum bottom-n over the Update sink
    // reconstructs the batch sample exactly; oracle shared with
    // corpus_sample_n (same coin, same (key, id) order). The batch
    // op's oversample pre-filter (u < 4n/cnt) replays here as a
    // stream-static broadcast of the stratum counts, so the stream
    // ranks over the IDENTICAL survivor set as batch + oracle — in
    // the ~e^-Ω(n) tail where a stratum's bottom-n doesn't all
    // survive the cut, all three shrink together instead of the
    // stream silently emitting extra rows.
    "streaming_sample" -> Twin((s, dir) => {
      import s.implicits._
      val cnts = tbl(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("_cnt"))
      val sunk = streamReplay(s, dir, "documents", "ssamp",
        mode = "update") { src =>
        graft.streaming.Stateful.sampleNStream(
          src.join(broadcast(cnts), "source")
            .where(Corpus.md5Uniform(col("doc_id")) <
              least(lit(1.0), lit(20.0) / col("_cnt")))
            .select(col("source").as("g"),
            Sketch.kmvHash(col("doc_id")).as("key"),
            col("doc_id").as("id"))
            .as[graft.streaming.Stateful.SampIn],
          n = 5).toDF()
      }
      val w = Window.partitionBy(col("g")).orderBy(col("key"), col("id"))
      sunk.distinct()
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .select(col("g").as("source"), col("id").as("doc_id"))
    },
      // op 147: same md5 coin, same (key, id) bottom-n — the streamed
      // sample equals the batch stratified sample exactly.
      batch = "corpus_sample_n"),
    // Streaming kNN-graph maintenance (op 152): the op-115 pattern on
    // op 150 — the capped (tbl, bucket) index is materialized ONCE
    // (parquet, the expensive Σ bucket² build amortized), and each
    // arriving vector probes it STATELESSLY (stream-static equi-join,
    // no state store: the index carries the history, the stream is
    // map-shaped). Because the pair join is on equal (tbl, bucket),
    // capping the index side alone equals the batch op's symmetric
    // cap, so the max-merge + top-k compaction over the Append sink
    // reproduces ann_knn_graph exactly and shares its oracle. At
    // 100 TB this is live neighbor-graph upkeep: probe cost per
    // arrival ∝ its buckets' occupancy, index refresh is a periodic
    // batch rebuild.
    "streaming_knn_graph" -> Twin((s, dir) => {
      val t0 = System.nanoTime()
      val ixPath =
        java.nio.file.Files.createTempDirectory("graft-sknn-ix").toString
      Similarity.knnIndexRelation(tbl(s, dir, "embeddings"), "vec_id",
          "embedding", EmbDim, planes = annPlanes(s))
        .write.mode("overwrite").parquet(ixPath)
      SparkEntry.setupStats("streaming_knn_graph") = (System.nanoTime() - t0) / 1e9
      val ix = s.read.parquet(ixPath)
      val sunk = streamReplay(s, dir, "embeddings", "sknn") { src =>
        Similarity.knnProbe(src, ix, "vec_id", "embedding", EmbDim,
          planes = annPlanes(s))
      }
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      sunk.groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(col("cosine")).as("cosine"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
    },
      // op 154: stateless probes of the capped index emit the same
      // pair set as the batch kNN graph (equi-join cap equivalence),
      // so the compacted sink replays the batch oracle.
      batch = "ann_knn_graph")
  )
}
