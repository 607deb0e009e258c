package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming analytics over an event stream (SURVEY §2 op
  * 58). The same Column algebra as the batch operators — windowed,
  * watermarked, incremental. At scale this runs with state in the
  * aggregation operator, partitioned by (window, event_type); the
  * watermark bounds state size.
  */
object EventStream {
  /** `withWatermark` rejects TIMESTAMP_NTZ
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), which is what a parquet
    * source written with isAdjustedToUTC=false presents as in Spark 4.
    * Coerce the event-time column before watermarking — value-exact
    * under the library's pinned UTC session TZ, a no-op otherwise.
    */
  private def eventTime(df: DataFrame, c: String): DataFrame =
    graft.sources.Tables.coerceNtz(df, c)

  /** Tumbling-window per-type stats, with a lateness watermark when
    * run as a stream — the SAME expression runs batch (the `window_agg`
    * query) and streaming (`streaming_window_agg`). The sum
    * runs in decimal(30,10): double addition is order-sensitive and
    * shuffle-merge order is not deterministic, so a double sum can
    * differ in the last bits run to run — decimal makes the result
    * addition-order independent (same rationale as Bars' VWAP), which
    * is what lets a batch oracle replay this stream exactly.
    */
  def windowedStats(events: DataFrame, windowLen: String,
                    watermark: Option[String] = None): DataFrame =
    watermarked(events, watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,10)")).as("_sum_dec"))
      .select(col("window"), col("event_type"), col("n"),
        col("_sum_dec").cast("double").as("sum_value"),
        (col("_sum_dec") / col("n")).cast("double").as("avg_value"))

  /** Gap-based sessionization via session_window — declarative, so the
    * SAME expression runs batch (the `sessionize` query) and
    * streaming (`streaming_sessionize`, with watermark-bounded state).
    * Per-session stats by (user, session); the session key is the
    * shuffle key at scale.
    */
  def sessionize(events: DataFrame, gap: String,
                 watermark: Option[String] = None): DataFrame =
    watermarked(events, watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))

  /** `events` on its event time `ts`, watermarked by `watermark` if
    * one is given (a stream); a batch relation passes None.
    */
  private def watermarked(events: DataFrame,
                          watermark: Option[String]): DataFrame = {
    val ev = eventTime(events, "ts")
    watermark.fold(ev)(ev.withWatermark("ts", _))
  }

  /** Streaming exact dedup — the ingestion-side twin of
    * [[graft.operators.Dedup.exact]]: drop any document whose md5(text)
    * was already seen, keeping the FIRST arrival (batch exact-dedup
    * keeps min id; on a stream, arrival order is the only "min").
    * Idiomatic Structured Streaming: `dropDuplicates` on the digest
    * keys state by hash — the same one-shuffle shape as the batch op —
    * and the event-time watermark bounds the dedup state so a 100 TB/day
    * ingest doesn't accrete digests forever (docs arriving later than
    * the watermark may re-admit a duplicate; that's the standard
    * bounded-state trade).
    */
  def dedupExactStream(docs: DataFrame, idCol: String, textCol: String,
                       tsCol: String, watermark: String): DataFrame =
    eventTime(docs, tsCol)
      .withColumn("_digest", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      // dropDuplicatesWithinWatermark: digest-keyed state that the
      // watermark purges (plain dropDuplicates on a non-event-time
      // subset would keep every digest forever)
      .dropDuplicatesWithinWatermark("_digest")
      .drop("_digest")

  /** Streaming HLL distinct-cardinality registers (SURVEY §2 op 123)
    * — the ingestion twin of [[graft.operators.Sketch.hllRegisters]],
    * and literally the same declarative plan run as an Update-mode
    * streaming aggregation: per-row (register, rank) then
    * `groupBy(group, reg).max(rank)`. The rare stateful op where NO
    * watermark is the right call: state is bounded BY CONSTRUCTION at
    * m rows per group (the register table), never by retention — a
    * forever-running 100 TB/day ingest holds the same few KBs per
    * group. `max` is order/duplicate/replay-insensitive, so the
    * streamed register table equals the batch one exactly, and
    * estimates are a batch read over the continuously-maintained sink
    * (the production rollup architecture: the stream maintains the
    * sketch, dashboards query it).
    */
  def hllRegisterStream(rows: DataFrame, groupCol: String, valueCol: String,
                        m: Int = 256): DataFrame =
    graft.operators.Sketch.hllRegisters(rows, Seq(groupCol), valueCol, m)

  /** Streaming Count-Min counter maintenance (SURVEY §2 op 124) — the
    * frequency twin of [[hllRegisterStream]]: the fixed depth×width
    * counter table as an Update-mode streaming aggregation, state
    * bounded BY CONSTRUCTION (≤ depth·width rows, no watermark).
    * Counters only grow, so each Update re-emission carries the new
    * cumulative count and a max-merge over the sink reconstructs the
    * exact batch counter table — heavy-hitter probes then run batch
    * over the continuously-maintained sink, sharing the batch op's
    * oracle.
    */
  def cmsCounterStream(rows: DataFrame, valueCol: String,
                       depth: Int = 4, width: Int = 1024): DataFrame =
    graft.operators.Sketch.cmsCounters(rows, valueCol, depth, width)

  /** Watermarked stream-stream time-bounded join (SURVEY §2 op 138) —
    * the canonical Structured Streaming two-stream join: each left row
    * pairs with every right row sharing `leftKey`/`rightKey` whose
    * event time lies in `[leftTs - lookbackSec, leftTs]` (inclusive,
    * the trade↔recent-quotes shape). Both sides carry a watermark, so
    * Spark bounds the buffered state to the lookback + delay horizon
    * and drops it as the watermark advances — the property that makes
    * this run forever on an unbounded feed. Inner-join emission is
    * exactly-once per matching pair regardless of how the input is
    * micro-batched (pairs whose halves arrive in different batches
    * join against buffered state), so the sink equals the batch join
    * whenever the delay covers the source's disorder.
    *
    * Column names must be disjoint across the two sides (rename before
    * calling, as with [[graft.operators.RangeJoin]]).
    */
  def timeBoundedJoin(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String,
                      leftTs: String, rightTs: String,
                      lookbackSec: Long, delay: String): DataFrame =
    eventTime(left, leftTs).withWatermark(leftTs, delay)
      .join(eventTime(right, rightTs).withWatermark(rightTs, delay),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookbackSec SECONDS") &&
          col(rightTs) <= col(leftTs))
}
