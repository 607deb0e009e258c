package graft.streaming

import java.sql.Timestamp

import scala.reflect.ClassTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Custom-state streaming operators via `flatMapGroupsWithState` —
  * per-key running analytics that declarative streaming aggregation
  * cannot express (window functions like lag/cummax don't exist on
  * streams; these are their stateful twins).
  *
  * Scale shape: state is O(number of keys) (one small record per
  * symbol), partitioned by the group key across executors — the same
  * keyBy shuffle as a streaming aggregate. Rows within a micro-batch
  * are sorted by event time per key; cross-batch order is handled by
  * the carried state (monotone high-water mark / last-quote-wins), so
  * modest inter-batch disorder degrades gracefully rather than
  * corrupting state.
  *
  * Memory note: the per-key event-time sort buffers ONE KEY'S rows of
  * the CURRENT micro-batch on the executor (`it.toArray`) — O(hottest
  * symbol per batch) heap, not O(batch). That is the inherent cost of
  * in-batch reordering; size micro-batches (trigger interval /
  * maxOffsetsPerTrigger) so a hot symbol's slice fits comfortably, or
  * pre-sort the source and drop the buffer entirely.
  */
object Stateful {

  /** Full-precision event-time sort key: `Timestamp.getTime` alone is
    * millisecond-resolution, so microsecond ticks sharing a millisecond
    * would tie and resolve to shuffle arrival order — nondeterministic
    * output for a deterministic input. (getTime, getNanos) is the
    * timestamp's total order; callers append a value tiebreak so even
    * true timestamp ties order deterministically.
    */
  private def tsKey(ts: Timestamp): (Long, Int) = (ts.getTime, ts.getNanos)

  /** Microsecond epoch of a Timestamp (`getTime` alone is ms-grain;
    * `getNanos` carries the full fractional second). Stored streaming
    * state that compares event ages must keep this precision — two
    * same-millisecond quotes otherwise tie and resolve to arrival
    * order across micro-batches (the library claims µs tick data).
    */
  private def tsMicros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  /** The per-key ordered fold most operators here share: group by
    * `key`; per key and micro-batch, read the state (or `init`), sort
    * the batch's rows by `order`, step each row to (new state, optional
    * output), then store the state. Append mode and no timeout — the
    * state is a constant-size record per key. Cross-batch continuity
    * rides on the stored state; in-batch order on `order`, which each
    * operator ends with a tiebreak so equal timestamps still sort
    * deterministically.
    */
  private def orderedFold[I: ClassTag, K: Encoder, S: Encoder, O: Encoder,
                          B: Ordering](in: Dataset[I])(
      key: I => K, init: S, order: I => B)(
      step: (K, S, I) => (S, Option[O])): Dataset[O] =
    in.groupByKey(key)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k, it, state) =>
          var st = state.getOption.getOrElse(init)
          val out = scala.collection.mutable.ArrayBuffer[O]()
          it.toArray.sortBy(order).foreach { r =>
            val (next, o) = step(k, st, r)
            st = next
            out ++= o
          }
          state.update(st)
          out.iterator
      }

  // ------------------------------------------------------ running drawdown

  case class Tick(symbol: String, ts: Timestamp, price: Double)
  case class DrawdownRow(symbol: String, ts: Timestamp, price: Double,
                         high_water: Double, drawdown: Double)
  case class HighWater(max: Double)

  /** Per-symbol running high-water mark and drawdown, the streaming twin
    * of [[graft.functions.Eod.toDrawdownSeries]] (ref: eod/risk.py:64):
    * state carries cummax(price) across micro-batches; each tick emits
    * price/highWater - 1.
    */
  def runningDrawdown(ticks: Dataset[Tick]): Dataset[DrawdownRow] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks)(_.symbol, HighWater(Double.NegativeInfinity),
        t => (tsKey(t.ts), t.price)) { (symbol, st, t) =>
      val hw = math.max(st.max, t.price)
      (HighWater(hw), Some(DrawdownRow(symbol, t.ts, t.price, hw,
        if (hw != 0.0) t.price / hw - 1 else Double.NaN)))
    }
  }

  // ------------------------------------------------- streaming as-of quote

  /** Interleaved market events: kind = "quote" (bid/ask set) or "trade"
    * (price set). One stream, keyed by symbol — the streaming analogue
    * of the batch trade↔quote as-of join ([[graft.operators.AsOfJoin]]).
    */
  case class MarketEvent(symbol: String, ts: Timestamp, kind: String,
                         price: Double, bid: Double, ask: Double)
  case class EnrichedTrade(symbol: String, ts: Timestamp, price: Double,
                           bid: Double, ask: Double, mid: Double,
                           latency_ms: Long)
  case class QuoteState(bid: Double, ask: Double, tsMicros: Long)

  /** Enrich each trade with the prevailing (most recent at-or-before)
    * quote. State = last quote per symbol; trades arriving before any
    * quote are dropped (no prevailing NBBO — same as the batch as-of
    * join's null-match rows being filtered).
    */
  def asOfEnrich(events: Dataset[MarketEvent]): Dataset[EnrichedTrade] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.symbol)
      .flatMapGroupsWithState[QuoteState, EnrichedTrade](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol, it, state) =>
          var q = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer[EnrichedTrade]()
          // Same-timestamp tie-break: quotes BEFORE trades, explicitly
          // (a trade at t sees a quote stamped t, matching the batch
          // as-of join's at-or-before semantics) — not an accident of
          // "quote" < "trade" string order.
          it.toArray.sortBy(e => (tsKey(e.ts), e.kind == "trade")).foreach { e =>
            if (e.kind == "quote") {
              // last-quote-wins only forward in time: a late quote must
              // not roll the prevailing NBBO backwards. Compared at µs
              // grain (tsKey convention carried INTO stored state) so
              // two quotes inside one millisecond resolve by timestamp,
              // not by micro-batch arrival order.
              if (q == null || tsMicros(e.ts) >= q.tsMicros)
                q = QuoteState(e.bid, e.ask, tsMicros(e.ts))
            } else if (q != null) {
              out += EnrichedTrade(symbol, e.ts, e.price, q.bid, q.ask,
                (q.bid + q.ask) / 2,
                Math.floorDiv(tsMicros(e.ts) - q.tsMicros, 1000L))
            }
          }
          if (q != null) state.update(q)
          out.iterator
      }
  }

  // ------------------------------------------- tick rule (transformWithState)

  case class SignedTick(symbol: String, ts: Timestamp, price: Double,
                        direction: Int)

  /** Streaming twin of [[graft.functions.Tick.tickRule]] (ref: tick/
    * direction.py:11) on Spark 4's arbitrary-state v2 API
    * (`transformWithState`): lag(price) is a per-symbol ValueState, so
    * the up/down/flat classification survives micro-batch boundaries.
    * State is one double per symbol; batch rows are event-time sorted.
    */
  class TickRuleProcessor extends StatefulProcessor[String, Tick, SignedTick] {
    @transient private var lastPrice: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastPrice = getHandle.getValueState[Double]("lastPrice",
        Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Tick],
                                 timerValues: TimerValues): Iterator[SignedTick] = {
      var prev = if (lastPrice.exists()) lastPrice.get() else Double.NaN
      val out = rows.toArray.sortBy(t => (tsKey(t.ts), t.price)).map { t =>
        val dir =
          if (prev.isNaN || t.price == prev) 0
          else if (t.price > prev) 1
          else -1
        prev = t.price
        SignedTick(key, t.ts, t.price, dir)
      }
      if (!prev.isNaN) lastPrice.update(prev)
      out.iterator
    }
  }

  def tickRule(ticks: Dataset[Tick]): Dataset[SignedTick] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.symbol)
      .transformWithState(new TickRuleProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  // ------------------------------------------- streaming minhash near-dup

  case class BucketEvent(bucket: String, ts: Timestamp, docId: Long)
  case class BucketMin(minTs: Long, minId: Long)
  case class DupHit(doc_id: Long, dup_of: Long)

  /** Stage the per-row '|'-joined band bucket keys (band index
    * prefixed) as a `_bands` array column — the STATELESS signature
    * math shared by [[minhashDedupStream]] and
    * [[minhashIncrementalStream]]. Same affine md5 family
    * h_i = a + i·b mod 2^32 as the batch ops, computed with array
    * HOFs per row: the batch explode + k-min aggregation is a
    * streaming aggregation mid-pipeline, which would stall an append
    * stream behind the watermark. The `_ab` staging column keeps the
    * md5 per shingle computed once, not once per signature.
    */
  private def withBandBuckets(df: org.apache.spark.sql.DataFrame,
                              textCol: String, k: Int, bands: Int,
                              shingleWidth: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(k % bands == 0, "signature length must divide into bands")
    val rows = k / bands
    val ab = transform(
      graft.operators.Dedup.shingles(col(textCol), shingleWidth), s =>
        struct(
          conv(substring(md5(s), 1, 8), 16, 10).cast("long").as("a"),
          conv(substring(md5(s), 9, 8), 16, 10).cast("long").as("b")))
    def sig(i: Int) = array_min(transform(col("_ab"), p =>
      (p.getField("a") + lit(i.toLong) * p.getField("b")) %
        graft.operators.Dedup.MinhashMod))
    val bandArr = array((0 until bands).map { b =>
      concat_ws("|", lit(b) +:
        (b * rows until (b + 1) * rows).map(sig): _*)
    }: _*)
    df.withColumn("_ab", ab).withColumn("_bands", bandArr).drop("_ab")
  }

  /** Stream-static incremental MinHash-LSH dedup: the streaming twin
    * of [[graft.operators.Dedup.minhashLshIncremental]] (op 109) —
    * arriving docs are flagged against a STATIC indexed corpus, not
    * against each other. Fully STATELESS: per-row band keys joined to
    * the index's (bucket → min id, count) relation is a stream-static
    * inner join, legal in Append mode with no watermark and no state
    * store — the cheapest possible streaming dedup when the reference
    * corpus is fixed between batch refreshes.
    *
    * Emits one (doc_id, dup_of=bucket min) row per hit bucket;
    * aggregate min(dup_of) per doc downstream (post-replay or with a
    * watermarked agg in production) for the earliest indexed sharer —
    * the op 102 convention.
    *
    * This overload derives the index relation from the raw corpus —
    * convenient, but the derivation re-plans per micro-batch. At scale
    * use [[minhashIndexRelation]] to materialize the relation to
    * parquet once per corpus refresh and pass the read-back table to
    * [[minhashIncrementalStreamIndexed]] (which this delegates to):
    * the stream's plan then contains a plain parquet scan, zero
    * signature math on the static side. Hot buckets beyond maxBucket
    * are dropped from the index (stop-shingle rule), bounding fan-out
    * per arriving doc to bands·maxBucket.
    */
  def minhashIncrementalStream(docs: org.apache.spark.sql.DataFrame,
                               index: org.apache.spark.sql.DataFrame,
                               idCol: String, textCol: String,
                               k: Int = 8, bands: Int = 4,
                               shingleWidth: Int = 3,
                               maxBucket: Int =
                                 graft.operators.Dedup.DefaultMaxBucket)
      : org.apache.spark.sql.DataFrame =
    minhashIncrementalStreamIndexed(docs,
      minhashIndexRelation(index, idCol, textCol, k, bands, shingleWidth,
        maxBucket),
      idCol, textCol, k, bands, shingleWidth)

  /** The precomputable LSH index relation behind op 115: one
    * (bucket, _min_id) row per surviving band bucket of the corpus —
    * min doc id per bucket, hot buckets beyond `maxBucket` dropped
    * (stop-shingle rule). This IS the thing to write to parquet on
    * every corpus refresh; its size is O(active buckets), independent
    * of stream volume, and the streaming join against it needs no
    * state store.
    */
  def minhashIndexRelation(corpus: org.apache.spark.sql.DataFrame,
                           idCol: String, textCol: String,
                           k: Int = 8, bands: Int = 4,
                           shingleWidth: Int = 3,
                           maxBucket: Int =
                             graft.operators.Dedup.DefaultMaxBucket)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    withBandBuckets(corpus, textCol, k, bands, shingleWidth)
      .select(col(idCol).cast("long").as("_iid"),
        explode(col("_bands")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(min(col("_iid")).as("_min_id"), count(lit(1)).as("_c"))
      .where(col("_c") <= maxBucket)
      .select(col("bucket"), col("_min_id"))
  }

  /** Stream-static join against a PREBUILT index relation (columns
    * `bucket`, `_min_id` — [[minhashIndexRelation]], typically read
    * back from parquet): per-row band keys of arriving docs exploded
    * and inner-joined to the index, one (doc_id, dup_of) row per hit
    * bucket. Stateless and watermark-free.
    */
  def minhashIncrementalStreamIndexed(docs: org.apache.spark.sql.DataFrame,
                                      idx: org.apache.spark.sql.DataFrame,
                                      idCol: String, textCol: String,
                                      k: Int = 8, bands: Int = 4,
                                      shingleWidth: Int = 3)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    withBandBuckets(docs, textCol, k, bands, shingleWidth)
      .select(col(idCol).cast("long").as(idCol),
        explode(col("_bands")).as("bucket"))
      .join(idx, "bucket")
      .select(col(idCol), col("_min_id").as("dup_of"))
  }

  /** Streaming MinHash-LSH near-dup flagging — the ingestion twin of
    * [[graft.operators.Dedup.minhashLshPairs]] (op 47), first-seen
    * kept: an arriving doc is flagged against the EARLIEST previous
    * member of any band bucket it lands in, emitting one
    * (doc_id, dup_of) row per hit bucket (aggregate min(dup_of) per
    * doc downstream for the canonical earliest sharer — the bucket
    * minimum IS a sharer and bounds every sharer in its bucket, so
    * the min over hit buckets equals the min over ALL earlier
    * sharers).
    *
    * Signatures compute PER ROW (array HOFs over the shingle array,
    * same affine md5 family h_i = a + i·b mod 2^32 as the batch op):
    * the batch explode + k-min aggregation is a streaming aggregation
    * mid-pipeline, which would stall an append stream behind the
    * watermark — per-row algebra keeps the stage stateless until the
    * one keyed state op.
    *
    * Scale shape: state is ONE (minTs, minId) record per band bucket
    * — O(1), no membership lists, no pair expansion (each event emits
    * at most one row per band); buckets partition across executors by
    * the group key. Per-batch events sort by (ts, id) within each
    * bucket, so verdicts are batching-independent in replay.
    *
    * State is BOUNDED by `retention`: bucket cardinality grows with
    * distinct content, so on an unbounded stream NoTimeout state would
    * grow forever (the batch twin caps hot buckets; the streaming twin
    * needs a horizon). A watermark of `retention` is applied on
    * `tsCol` and each bucket's record carries an event-time TTL of
    * `retention` past its latest arrival — an idle bucket's state is
    * dropped once the watermark passes that horizon, trading recall
    * beyond the retention window for O(active buckets) state: a doc
    * re-arriving later than `retention` after its bucket's last
    * member is no longer flagged. This is exactly the
    * `dropDuplicatesWithinWatermark` retention contract op 80 follows.
    */
  def minhashDedupStream(docs: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String, tsCol: String,
                         k: Int = 8, bands: Int = 4,
                         shingleWidth: Int = 3,
                         retention: String = "3650 days"): Dataset[DupHit] = {
    import org.apache.spark.sql.functions._
    import docs.sparkSession.implicits._
    withBandBuckets(docs, textCol, k, bands, shingleWidth)
      .select(explode(col("_bands")).as("bucket"), col(tsCol).as("ts"),
        col(idCol).cast("long").as("docId"))
      .withWatermark("ts", retention)
      .as[BucketEvent]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketMin, DupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, it, state) =>
          if (state.hasTimedOut) {
            // idle past the retention horizon: release the bucket record
            state.remove()
            Iterator.empty
          } else {
            var cur = state.getOption
            var maxTs = Long.MinValue
            val out = it.toArray.sortBy(e => (e.ts.getTime, e.docId))
              .flatMap { e =>
                maxTs = math.max(maxTs, e.ts.getTime)
                val hit = cur.collect {
                  case m if m.minTs < e.ts.getTime ||
                    (m.minTs == e.ts.getTime && m.minId < e.docId) =>
                    DupHit(e.docId, m.minId)
                }
                if (cur.forall(m => e.ts.getTime < m.minTs ||
                    (e.ts.getTime == m.minTs && e.docId < m.minId)))
                  cur = Some(BucketMin(e.ts.getTime, e.docId))
                hit
              }
            cur.foreach(state.update)
            // TTL re-arms on every arrival; the anchor is the bucket's
            // latest event (not the watermark), so idle time is measured
            // in event time. max(…, watermark+1ms) keeps the timestamp
            // legal if this batch's rows were already at the horizon.
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1), retention)
            out.iterator
          }
      }
  }

  // ---------------------------------------------- streaming threshold bars

  case class VolTick(symbol: String, ts: Timestamp, price: Double,
                     volume: Double)
  case class BarTick(symbol: String, ts: Timestamp, price: Double,
                     volume: Double, bar: Long)
  case class BarAcc(units: Long)

  /** Shared engine of the information-driven bar twins: per-symbol
    * exclusive prefix of integer `units` across micro-batches, bar id
    * = prefix / threshold — the crossing tick CLOSES its bar, exactly
    * the batch rule ([[graft.operators.Bars.volumeBars]]). State is
    * ONE long per symbol; integer units make the prefix exact under
    * any batching, so streamed bar ids equal the batch ids
    * bit-for-bit and the OHLCV report runs batch over the sink with
    * the batch op's own oracle.
    */
  private def thresholdBarStream(ticks: Dataset[VolTick], threshold: Long,
                                 units: VolTick => Long): Dataset[BarTick] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks)(_.symbol, BarAcc(0L),
        t => (tsKey(t.ts), t.price, t.volume)) { (sym, acc, t) =>
      (BarAcc(acc.units + units(t)),
        Some(BarTick(sym, t.ts, t.price, t.volume, acc.units / threshold)))
    }
  }

  /** Streaming volume bars (op 136): a bar closes each `threshold`
    * units of traded volume. Volume must be integral (it rides in as
    * double, the batch op's contract — Bars.scala:49).
    */
  def volumeBarStream(ticks: Dataset[VolTick], threshold: Long): Dataset[BarTick] =
    thresholdBarStream(ticks, threshold, t => math.round(t.volume))

  /** Streaming dollar bars (op 136): a bar closes each `thresholdCents`
    * of traded value; per-tick value quantizes to integer cents before
    * accumulating, the batch op's exactness rule (Bars.scala:63).
    */
  def dollarBarStream(ticks: Dataset[VolTick],
                      thresholdCents: Long): Dataset[BarTick] =
    thresholdBarStream(ticks, thresholdCents,
      t => math.floor(t.price * t.volume * 100 + 0.5).toLong)

  case class VpinOut(symbol: String, ts: Timestamp, volume: Double,
                     dirn: Int, bar: Long)
  case class VpinState(units: Long, lastPrice: Double)

  /** Streaming VPIN feed (op 194): each tick stamped with its
    * equal-volume bucket id AND its tick-rule direction from ONE state
    * transition — the volume-bar exclusive integer prefix
    * ([[thresholdBarStream]]'s rule) plus the last price
    * ([[tickRule]]'s state), two longs + a double per symbol. Both
    * state components are exact under any micro-batching (integer
    * prefix; last price is order-pinned by the event-time sort), so
    * the stamped (bar, dirn, volume) triples equal the batch op's
    * bit-for-bit and the toxicity report — Σ|V_buy−V_sell|/ΣV per
    * symbol — runs batch over the sink with the batch op's own oracle
    * (the op-136 argument). The live view an execution desk actually
    * wants: bucket fill and signed imbalance as of the latest trade.
    */
  def vpinStream(ticks: Dataset[VolTick], threshold: Long): Dataset[VpinOut] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks)(_.symbol, VpinState(0L, Double.NaN),
        t => (tsKey(t.ts), t.price, t.volume)) { (sym, st, t) =>
      val dirn =
        if (st.lastPrice.isNaN || t.price == st.lastPrice) 0
        else if (t.price > st.lastPrice) 1 else -1
      (VpinState(st.units + math.round(t.volume), t.price),
        Some(VpinOut(sym, t.ts, t.volume, dirn, st.units / threshold)))
    }
  }

  // ------------------------------------------------- streaming KMV sketch

  case class KmvIn(g: String, h: Long)
  case class KmvState(hs: Array[Long])

  /** Streaming twin of [[graft.operators.Sketch.kmvSketch]] (op 132):
    * per-group bottom-k distinct-hash maintenance across micro-batches.
    *
    * The hash is staged UPSTREAM with the batch op's own expression
    * ([[graft.operators.Sketch.kmvHash]]), so this state transition is
    * pure order statistics: merge the batch's hashes into the sorted
    * ≤k state array, emit the group's CURRENT sketch. State is
    * construction-bounded — k longs per group, no watermark or TTL
    * needed (the same reason op 123's register table needs none).
    *
    * Replay/duplicate-insensitivity: bottom-k of a union equals the
    * bottom-k of the union of bottom-ks (the KMV merge losslessness,
    * Sketch.scala:230), and Update-mode re-emissions only repeat
    * subsets of historical sketches — so `distinct` + per-group
    * bottom-k over the sink reconstructs the batch sketch
    * bit-for-bit, however the input was micro-batched.
    */
  def kmvSketchStream(hashed: Dataset[KmvIn], k: Int = 64): Dataset[KmvIn] = {
    import hashed.sparkSession.implicits._
    hashed.groupByKey(_.g)
      .flatMapGroupsWithState[KmvState, KmvIn](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g, it, state) =>
          val prev = state.getOption.map(_.hs).getOrElse(Array.empty[Long])
          val merged = (prev.iterator ++ it.map(_.h))
            .toArray.distinct.sorted.take(k)
          state.update(KmvState(merged))
          merged.iterator.map(KmvIn(g, _))
      }
  }

  // ------------------------------------------ streaming running risk

  case class RiskState(lastPrice: Double, n: Long, sumQ: Long, sumSqQ: Long)
  case class RiskRow(symbol: String, ts: Timestamp, retQ: Long, n: Long,
                     sumQ: Long, sumSqQ: Long)

  /** Per-symbol running log-return moments — the streaming twin of the
    * full-sample mean/vol/Sharpe family (ref eod/ratios.py), for the
    * live risk dashboard the batch ops can't feed: each tick emits the
    * symbol's return count, running Σq and Σq² from which mean, sample
    * vol, and annualized Sharpe derive in closed form.
    *
    * Exactness: the log return quantizes to 1e-5 longs BEFORE
    * accumulating, so the running sums are INTEGER — addition-order
    * independent, micro-batching independent, and bit-reconstructible
    * by a batch engine replaying the same quantization (the variance-
    * ratio convention, SURVEY §6). Derived metrics are then identical
    * double algebra on identical integers. Range: |q| ≤ ~1e6 for any
    * price ratio within e^±10, so Σq² stays far inside int64 for ~1e11
    * typical ticks per symbol.
    *
    * Residual cross-engine risk, accepted: q quantizes Math.log
    * OUTPUT, so a 1-ulp ln() divergence between the JVM and the
    * replaying engine's libm at a floor boundary would shift one q by
    * 1 and propagate into every later sum of that symbol (blast
    * radius = the series, unlike row-local rounding). P ≈ ulp/grid ≈
    * 2e-11 per row; the dual-SF oracle gate is the detector.
    *
    * State is THREE longs + one double per symbol, no watermark needed
    * (the bars/KMV constant-state argument); in-batch rows sort by
    * event time per symbol, cross-batch continuity rides on lastPrice.
    */
  def runningRiskStream(ticks: Dataset[Tick]): Dataset[RiskRow] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks)(_.symbol, RiskState(Double.NaN, 0L, 0L, 0L),
        t => (tsKey(t.ts), t.price)) { (sym, st, t) =>
      if (st.lastPrice.isNaN) (st.copy(lastPrice = t.price), None)
      else {
        val q = math.floor(math.log(t.price / st.lastPrice) * 1e5 + 0.5)
          .toLong
        val nx = RiskState(t.price, st.n + 1, st.sumQ + q, st.sumSqQ + q * q)
        (nx, Some(RiskRow(sym, t.ts, q, nx.n, nx.sumQ, nx.sumSqQ)))
      }
    }
  }

  // --------------------------------------------- streaming A/B gate

  case class GateEvent(variant: Int, ts: Timestamp, eventId: Long)
  case class GateRow(variant: Int, ts: Timestamp, n: Long)

  /** Per-variant running event counter — the live assignment monitor
    * under the op-373 SRM gate: each arm's event stream keeps ONE
    * long of state and emits its running count; the chi-square
    * readout joins the two final counts post-replay (driver-sized).
    * Keyed by variant, so each arm scales independently — no global
    * single-key bottleneck; the cross-arm statistic is never stream
    * state.
    */
  def abGateStream(events: Dataset[GateEvent]): Dataset[GateRow] = {
    import events.sparkSession.implicits._
    orderedFold(events)(_.variant, 0L, e => (tsKey(e.ts), e.eventId)) {
      (variant, n, e) => (n + 1, Some(GateRow(variant, e.ts, n + 1)))
    }
  }

  // ----------------------------------------- streaming win/loss streaks

  case class StreakState(lastPrice: Double, sgn: Int, len: Long,
                         maxWin: Long, maxLoss: Long)
  case class StreakRow(symbol: String, ts: Timestamp, sgn: Int, len: Long,
                       maxWin: Long, maxLoss: Long)

  /** Per-symbol running win/loss streak tracker — the live twin of the
    * batch op-212 gaps-and-islands report: each tick folds the SIGN of
    * the 1e-6-quantized simple return into (current sign, current
    * streak length, max win streak, max loss streak) and emits the
    * running state. Zero returns (flat on the quantized grid) are
    * their own sign class and break both streak kinds, exactly like
    * the batch operator's sgn=0 islands.
    *
    * Exactness: the quantized return is one double division + floor
    * (no transcendental — the [[cusumStream]] argument), so the
    * integer recursion replays bit-exactly in a batch engine via the
    * standard island prefix windows. State is one double + one int +
    * three longs per symbol — constant, no watermark needed.
    */
  def streaksStream(ticks: Dataset[Tick]): Dataset[StreakRow] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks)(_.symbol, StreakState(Double.NaN, 0, 0L, 0L, 0L),
        t => (tsKey(t.ts), t.price)) { (sym, st, t) =>
      if (st.lastPrice.isNaN) (st.copy(lastPrice = t.price), None)
      else {
        val q = math.floor((t.price / st.lastPrice - 1.0) * 1e6 + 0.5)
          .toLong
        val sgn = java.lang.Long.signum(q)
        val len = if (sgn == st.sgn) st.len + 1 else 1L
        val nx = StreakState(t.price, sgn, len,
          if (sgn == 1) math.max(st.maxWin, len) else st.maxWin,
          if (sgn == -1) math.max(st.maxLoss, len) else st.maxLoss)
        (nx, Some(StreakRow(sym, t.ts, sgn, len, nx.maxWin, nx.maxLoss)))
      }
    }
  }

  // ------------------------------------------- streaming CUSUM drift

  case class CusumState(lastPrice: Double, n: Long, sPos: Long, sNeg: Long)
  case class CusumRow(symbol: String, ts: Timestamp, retQ: Long, n: Long,
                      cusumPos: Long, cusumNeg: Long)

  /** Per-symbol running two-sided CUSUM around a zero target (Page
    * 1954) — the live mean-shift detector twin of the batch op-284
    * statistic: each tick folds the 1e-6-quantized SIMPLE return into
    * S⁺ = max(0, S⁺+q) and S⁻ = max(0, S⁻−q) and emits both running
    * statistics; a sustained drift in either direction ramps the
    * corresponding side past any alarm threshold.
    *
    * Exactness: q = floor((p/p_prev − 1)·1e6 + 0.5) is ONE double
    * division plus a floor — no transcendental, so unlike the
    * ln-based risk/bipower states there is NO libm-ulp caveat: the
    * integer recursion replays bit-exactly in any engine. A batch
    * engine reconstructs the whole series with two cumulative integer
    * windows via the prefix-sum closed form S⁺_t = P_t −
    * min(0, min_{i≤t} P_i) (and mirrored S⁻; the op-284 identity).
    * State is one double + three longs per symbol — constant, no
    * watermark needed (the op-146 argument).
    */
  def cusumStream(ticks: Dataset[Tick]): Dataset[CusumRow] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks)(_.symbol, CusumState(Double.NaN, 0L, 0L, 0L),
        t => (tsKey(t.ts), t.price)) { (sym, st, t) =>
      if (st.lastPrice.isNaN) (st.copy(lastPrice = t.price), None)
      else {
        val q = math.floor((t.price / st.lastPrice - 1.0) * 1e6 + 0.5)
          .toLong
        val nx = CusumState(t.price, st.n + 1,
          math.max(0L, st.sPos + q), math.max(0L, st.sNeg - q))
        (nx, Some(CusumRow(sym, t.ts, q, nx.n, nx.sPos, nx.sNeg)))
      }
    }
  }

  // -------------------------------------- streaming bipower variation

  case class BpState(lastPrice: Double, lastAbsLr: Double, n: Long,
                     sumRvQ: Long, sumBvQ: Long)
  case class BpRow(symbol: String, ts: Timestamp, n: Long,
                   sumRvQ: Long, sumBvQ: Long)

  /** Per-symbol running bipower variation — the streaming twin of the
    * batch RV/BV jump decomposition (Barndorff-Nielsen & Shephard
    * 2004): each tick emits the symbol's running Σ(lr²) and
    * Σ(|lr_i||lr_{i−1}|) from which RV, BV and the jump share derive
    * in closed form — the live "was that move a jump?" monitor.
    *
    * Exactness: both products quantize to 1e-12 longs BEFORE
    * accumulating (the op-146 integer-state convention), so the
    * running sums are addition-order and micro-batch independent and
    * replay exactly in a batch engine. State is TWO doubles (last
    * price, last |lr|) + three longs per symbol — constant, no
    * watermark needed. Same ln-output quantization ulp caveat as
    * [[runningRiskStream]] (P ≈ ulp/grid per row, dual-SF gate is the
    * detector). Range: |lr| ≤ ~8 on this corpus → each term ≤ ~6e13,
    * Σ far inside int64 for ~1e5 ticks per symbol per SF.
    */
  def bipowerStream(ticks: Dataset[Tick]): Dataset[BpRow] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks)(_.symbol, BpState(Double.NaN, Double.NaN, 0L, 0L, 0L),
        t => (tsKey(t.ts), t.price)) { (sym, st, t) =>
      if (st.lastPrice.isNaN) (st.copy(lastPrice = t.price), None)
      else {
        val lr = math.log(t.price / st.lastPrice)
        val qr = math.floor(lr * lr * 1e12 + 0.5).toLong
        val qb = if (!st.lastAbsLr.isNaN)
          math.floor(math.abs(lr) * st.lastAbsLr * 1e12 + 0.5).toLong
        else 0L
        val nx = BpState(t.price, math.abs(lr), st.n + 1,
          st.sumRvQ + qr, st.sumBvQ + qb)
        (nx, Some(BpRow(sym, t.ts, nx.n, nx.sumRvQ, nx.sumBvQ)))
      }
    }
  }

  // ------------------------------------- streaming stratified sample

  case class SampIn(g: String, key: Long, id: Long)
  case class SampState(keys: Array[Long], ids: Array[Long])

  /** Streaming fixed-n stratified sample — the ingestion twin of
    * [[graft.operators.Corpus.stratifiedSampleN]]: maintain the n
    * SMALLEST (md5-key, id) pairs per stratum across micro-batches.
    * The md5 coin makes membership a pure order statistic, so this is
    * the KMV merge argument verbatim (bottom-n of a union = bottom-n
    * of the union of bottom-ns): state is n pairs per stratum by
    * construction, Update-mode re-emissions only repeat historical
    * subsets, and distinct + per-stratum bottom-n over the sink equals
    * the batch sample exactly — a uniform n-per-stratum sample of an
    * unbounded stream in constant state, no reservoir RNG to replay.
    *
    * Batch parity caveat: [[graft.operators.Corpus.stratifiedSampleN]]
    * ranks only rows surviving its oversample pre-filter (u < 4n/cnt);
    * this op ranks whatever it is fed. Exact equality therefore needs
    * the SAME input set — either apply the same pre-filter upstream
    * (a stream-static broadcast of stratum counts, as the gate query
    * does) or rely on the stratum's bottom-n all surviving the cut
    * (fails with probability ~e^-Ω(n) per stratum).
    */
  def sampleNStream(rows: Dataset[SampIn], n: Int): Dataset[SampIn] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.g)
      .flatMapGroupsWithState[SampState, SampIn](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g, it, state) =>
          val prev = state.getOption.map(s => s.keys.zip(s.ids))
            .getOrElse(Array.empty[(Long, Long)])
          val merged = (prev.iterator ++ it.map(e => (e.key, e.id)))
            .toArray.distinct.sorted.take(n)
          state.update(SampState(merged.map(_._1), merged.map(_._2)))
          merged.iterator.map { case (k, id) => SampIn(g, k, id) }
      }
  }

  // ------------------------------------------- streaming running TWAP

  case class TwapRow(symbol: String, ts: Timestamp, price: Double,
                     twap: Double)
  case class TwapState(lastMs: Long, lastQp: Long, sumPT: Long, sumT: Long)

  /** Per-symbol running time-weighted average price: each arriving
    * tick CLOSES the previous tick's holding interval (prev price ×
    * Δms), the TWAP convention. Prices quantize to 1e-6 longs before
    * weighting, so the running Σqp·Δt and ΣΔt are INTEGER —
    * addition-order and micro-batch independent (the op-146
    * convention) — and a batch engine replays them as cumulative
    * window sums bit-for-bit. The first tick of a symbol opens its
    * interval and emits nothing (no holding time yet). State is four
    * longs per symbol; Σqp·Δt stays inside int64 for qp ≤ 5.6e8
    * (price ≤ 560) × Δ ≤ 1e4 ms × ~2e4 ticks ≈ 1e17.
    */
  def runningTwapStream(ticks: Dataset[Tick]): Dataset[TwapRow] = {
    import ticks.sparkSession.implicits._
    orderedFold(ticks)(_.symbol, TwapState(Long.MinValue, 0L, 0L, 0L),
        t => (tsKey(t.ts), t.price)) { (sym, st, t) =>
      val ms = t.ts.getTime
      val qp = math.floor(t.price * 1e6 + 0.5).toLong
      if (st.lastMs == Long.MinValue) (TwapState(ms, qp, 0L, 0L), None)
      else {
        val dt = ms - st.lastMs
        val nx = TwapState(ms, qp, st.sumPT + st.lastQp * dt, st.sumT + dt)
        (nx, if (nx.sumT > 0)
          Some(TwapRow(sym, t.ts, t.price, nx.sumPT.toDouble / nx.sumT / 1e6))
        else None)
      }
    }
  }

  // --------------------------------------- streaming space-saving top-k

  case class SSIn(bucket: Int, token: String)
  case class SSEntry(token: String, cnt: Long, err: Long)
  case class SSState(entries: Array[SSEntry])
  case class SSOut(bucket: Int, token: String, cnt: Long, err: Long)

  /** Streaming heavy hitters by the space-saving algorithm
    * (Metwally/Agrawal/El Abbadi 2005), sharded by a hash bucket:
    * each key lives in exactly ONE bucket (hash-determined), each
    * bucket maintains at most `capacity` candidate counters, and an
    * arriving key not among them evicts the minimum counter,
    * inheriting its count (+1) with that count recorded as `err` —
    * the classical overestimate bound (true count ∈ [cnt − err, cnt]).
    *
    * Scale shape: state is `capacity` counters per bucket — CONSTANT
    * per group by construction, like the register/counter sketches
    * (ops 123/124), so an unbounded stream holds buckets·capacity
    * counters total, forever. Buckets distribute across executors by
    * the group key; a global top-k is a batch scan of the
    * continuously-maintained sink (counts only grow, so max-merge per
    * (bucket, token) reconstructs each counter's final value from
    * Update-mode re-emissions). Because keys are hash-partitioned
    * into disjoint buckets, the union of per-bucket candidates has
    * per-key error identical to a single space-saving instance of
    * buckets·capacity counters — sharding loses nothing while
    * removing the single-instance hotspot a textbook implementation
    * hits at scale.
    *
    * In-batch arrival order can affect WHICH minimum-count candidate
    * an eviction displaces; while a bucket has spare capacity the
    * counts are exact (`err` = 0) and the result is
    * batching-independent — the regime the oracle replays.
    */
  def spaceSavingStream(toks: Dataset[SSIn], capacity: Int): Dataset[SSOut] = {
    import toks.sparkSession.implicits._
    toks.groupByKey(_.bucket)
      .flatMapGroupsWithState[SSState, SSOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (bucket, it, state) =>
          val m = scala.collection.mutable.LinkedHashMap.from(
            state.getOption.map(_.entries.iterator.map(e =>
              e.token -> (e.cnt, e.err)).toSeq).getOrElse(Seq.empty))
          it.foreach { e =>
            m.get(e.token) match {
              case Some((c, err)) => m(e.token) = (c + 1, err)
              case None if m.size < capacity => m(e.token) = (1L, 0L)
              case None =>
                // evict the min counter (token asc tiebreak, determinism)
                val (minTok, (minC, _)) = m.minBy { case (t, (c, _)) => (c, t) }
                m.remove(minTok)
                m(e.token) = (minC + 1, minC)
            }
          }
          state.update(SSState(m.iterator.map { case (t, (c, err)) =>
            SSEntry(t, c, err)
          }.toArray))
          m.iterator.map { case (t, (c, err)) => SSOut(bucket, t, c, err) }
      }
  }

  // ------------------------------------- streaming Markov transitions

  case class TransIn(userId: Long, ts: Timestamp, eventId: Long,
                     eventType: String)
  case class TransSt(last: String)
  case class TransOut(from_type: String, to_type: String)

  /** Per-user event-type adjacency emission at ingest — the streaming
    * twin of [[graft.operators.Events.transitions]] (SURVEY §2 op
    * 338): state is ONE string per user (the last event type); each
    * arrival emits its (from, to) pair and becomes the new state. The
    * emitted pair multiset equals the batch lag-window pairs exactly
    * (in-batch tsKey sort + cross-batch last-state carry), so a
    * count/probability rollup over the sink replays the batch oracle
    * verbatim.
    */
  def transitionStream(events: Dataset[TransIn]): Dataset[TransOut] = {
    import events.sparkSession.implicits._
    orderedFold(events)(_.userId, TransSt(null),
        e => (tsKey(e.ts), e.eventId)) { (_, st, e) =>
      (TransSt(e.eventType),
        if (st.last != null) Some(TransOut(st.last, e.eventType)) else None)
    }
  }

  // ------------------------------------- streaming conversion lag

  case class ConvSt(t0: Long, converted: Boolean)
  case class ConvOut(user_id: Long, kind: String, lag_s: Long)

  /** Per-user time-to-convert at ingest — the streaming twin of
    * `events_conversion_lag` (SURVEY §2 op 364): state = (first
    * signup µs, converted flag). The first signup emits a 'signup'
    * marker; the first strictly-later conversion emits one 'conv' row
    * with the exact floor-division lag in seconds. Marker + lag
    * multisets equal the batch first/first-later aggs, so the
    * quantile/rate rollup replays the batch oracle verbatim. State is
    * one long + one boolean per user.
    */
  def conversionLagStream(events: Dataset[TransIn], anchorType: String,
                          conversionType: String): Dataset[ConvOut] = {
    import events.sparkSession.implicits._
    orderedFold(events)(_.userId, ConvSt(-1L, false),
        e => (tsKey(e.ts), e.eventId)) { (uid, st, e) =>
      val us = tsMicros(e.ts)
      if (e.eventType == anchorType && st.t0 < 0)
        (st.copy(t0 = us), Some(ConvOut(uid, "signup", 0L)))
      else if (e.eventType == conversionType && st.t0 >= 0 &&
          !st.converted && us > st.t0)
        (st.copy(converted = true), Some(ConvOut(uid, "conv",
          math.floor((us - st.t0).toDouble / 1e6).toLong)))
      else (st, None)
    }
  }

  // ------------------------------------- streaming attribution

  /** value rides along so conversions can carry revenue. */
  case class AttrIn(userId: Long, ts: Timestamp, eventId: Long,
                    eventType: String, value: Double)
  case class AttrSt(lastCh: String, lastUs: Long, firstCh: String)
  case class AttrOut(last_touch: String, first_touch: String, rev: Double)

  /** Per-user conversion attribution at ingest — the streaming twin of
    * [[graft.operators.Events.attribution]] (SURVEY §2 op 335): state
    * carries the most recent non-conversion touch (type + µs) and the
    * lifetime first touch; each conversion emits its (last-touch
    * within the lookback else 'direct', first-touch else 'direct',
    * revenue) row. The emitted multiset equals the batch running
    * first/last window rows, so the channel rollup replays the batch
    * oracle verbatim. State is two strings + one long per user.
    */
  def attributionStream(events: Dataset[AttrIn], conversionType: String,
                        lookbackUs: Long): Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    orderedFold(events)(_.userId, AttrSt(null, 0L, null),
        e => (tsKey(e.ts), e.eventId)) { (_, st, e) =>
      val us = tsMicros(e.ts)
      if (e.eventType == conversionType) {
        val last =
          if (st.lastCh != null && us - st.lastUs <= lookbackUs) st.lastCh
          else "direct"
        val first = if (st.firstCh != null) st.firstCh else "direct"
        (st, Some(AttrOut(last, first, e.value)))
      } else {
        // µs-grain guard (mirrors asOfEnrich's QuoteState): a
        // cross-batch late-arriving OLDER touch must not roll the
        // prevailing last-touch backward — only an event-time >=
        // advance replaces it. First-touch is set-once, so late older
        // touches can't corrupt it either (they were simply never
        // first-seen).
        val nx =
          if (st.lastCh == null || us >= st.lastUs)
            AttrSt(e.eventType, us,
              if (st.firstCh == null) e.eventType else st.firstCh)
          else if (st.firstCh == null) st.copy(firstCh = e.eventType)
          else st
        (nx, None)
      }
    }
  }

  // ----------------------------------------- streaming 3-event paths

  case class J3St(e1: String, e2: String)
  case class J3Out(e1: String, e2: String, e3: String)

  /** Per-user 3-event path emission at ingest — the streaming twin of
    * the `events_journeys` two-lag window (SURVEY §2 op 356): state is
    * the user's last TWO event types; each arrival emits (two-back,
    * one-back, current) once the history is deep enough, then shifts.
    * The emitted path multiset equals the batch lag pairs exactly, so
    * the top-10 rollup replays the batch oracle verbatim.
    */
  def journeyStream(events: Dataset[TransIn]): Dataset[J3Out] = {
    import events.sparkSession.implicits._
    orderedFold(events)(_.userId, J3St(null, null),
        e => (tsKey(e.ts), e.eventId)) { (_, st, e) =>
      (J3St(st.e2, e.eventType),
        if (st.e1 != null) Some(J3Out(st.e1, st.e2, e.eventType)) else None)
    }
  }

  // ---------------------------------------------- streaming Hawkes

  case class HawkesIn(symbol: String, ts: Timestamp, eventId: Long)
  case class HawkesSt(arrUs: Array[Long])
  case class HawkesOut(symbol: String, event_id: Long, sumq: Long)

  /** Per-symbol Hawkes intensity at ingest — the live twin of the
    * batch `tick_hawkes` trailing-kernel fold (SURVEY §2 op 342):
    * state is the last ≤ 60 arrival times in epoch µs (constant-size,
    * no watermark); each arrival emits the quantized kernel sum
    * Σ floor(B^Δsec·1e9 + 0.5) over the state BEFORE being appended —
    * exactly the batch op's rowsBetween(−60, −1) frame, so the batch
    * oracle replays the stream verbatim. Same pow(B, int) shared-libm
    * caveat as the batch op (the op-106 precedent).
    */
  def hawkesStream(arrivals: Dataset[HawkesIn]): Dataset[HawkesOut] = {
    import arrivals.sparkSession.implicits._
    orderedFold(arrivals)(_.symbol, HawkesSt(Array.empty[Long]),
        e => (tsKey(e.ts), e.eventId)) { (sym, st, e) =>
      val us = tsMicros(e.ts)
      val sumq = st.arrUs.iterator.map { a =>
        math.floor(math.pow(0.995,
          math.floor((us - a) / 1e6)) * 1e9 + 0.5).toLong
      }.sum
      (HawkesSt((st.arrUs :+ us).takeRight(60)),
        Some(HawkesOut(sym, e.eventId, sumq)))
    }
  }

  // ---------------------------------------------- streaming funnel

  /** step: 1/2/3 for the funnel's ordered stages, 0 for any other
    * event (still flows so zero-reach users appear in the output). */
  case class FunnelIn(userId: Long, ts: Timestamp, eventId: Long, step: Int)
  /** Earliest QUALIFYING step-1/step-2 event times in epoch µs
    * (Long.MaxValue = not yet reached, so the strict `us > t`
    * comparison is naturally false while unset). */
  case class FunnelState(t1: Long, t2: Long, s3: Boolean)
  case class FunnelOut(user_id: Long, s1: Int, s2: Int, s3: Int)

  // ---------------------------------------------- streaming SCD2

  case class Scd2In(userId: Long, ts: Timestamp, eventId: Long,
                    state: String)
  case class Scd2St(state: String, validFromUs: Long)
  case class Scd2Out(user_id: Long, state: String, valid_from_us: Long,
                     valid_to_us: Long)

  /** SCD2 dimension maintenance at ingest — the streaming twin of
    * [[graft.operators.Events.scd2]] (SURVEY §2 op 332): per-user
    * state carries the current (state, valid_from); a state CHANGE
    * emits the closed interval [prev_from, new_from), and each batch
    * re-emits the user's current OPEN row with the op-332 sentinel
    * (3000-01-01 µs). A later change closes that open row under the
    * SAME valid_from, so the sink assembly is a groupBy
    * (user, valid_from, state) keeping min(valid_to) — closed beats
    * open, duplicates collapse — and the result equals the batch SCD2
    * table exactly (the batch oracle verifies the stream verbatim).
    * State is one string + one long per user; no-op repeats never
    * touch state (the batch op's run compression).
    */
  def scd2Stream(events: Dataset[Scd2In]): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    val OpenUs = graft.operators.Events.OpenUs
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[Scd2St, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          var st = state.getOption.orNull
          val closed = scala.collection.mutable.ArrayBuffer[Scd2Out]()
          it.toArray.sortBy(e => (tsKey(e.ts), e.eventId)).foreach { e =>
            val us = tsMicros(e.ts)
            if (st == null) st = Scd2St(e.state, us)
            else if (e.state != st.state) {
              closed += Scd2Out(uid, st.state, st.validFromUs, us)
              st = Scd2St(e.state, us)
            }
          }
          state.update(st)
          (closed += Scd2Out(uid, st.state, st.validFromUs, OpenUs))
            .iterator
      }
  }

  /** Per-user streaming funnel reach — the ingest-side twin of
    * [[graft.operators.Events.funnelFlags]] (SURVEY §2 op 330): a
    * step-k event counts only if STRICTLY later in event time than the
    * earliest qualifying step-(k−1) event. State is two longs + one
    * boolean per user — constant, no watermark needed (the op-146
    * argument); because the qualifying times are the EARLIEST ones and
    * flags only ever turn on, the fold is idempotent once reached and
    * replays exactly in a batch engine (the batch op's oracle SQL
    * verifies the stream verbatim). Emits the user's current reach
    * after each micro-batch; a max per user over the sink reconstructs
    * the final funnel. In-batch rows sort by full-precision event time
    * (tsKey) then event_id; cross-batch continuity rides on the state.
    * Cross-batch reordering: qualifying times are folded with min(),
    * so a late-arriving OLDER step event correctly lowers t1/t2;
    * EXACT batch parity additionally assumes a step-k event is not
    * delivered before the step-(k−1) event that would qualify it —
    * an event rejected against a then-too-late threshold is not
    * revisited (revisiting would need unbounded step-time history).
    */
  def funnelStream(events: Dataset[FunnelIn]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          var st = state.getOption.getOrElse(
            FunnelState(Long.MaxValue, Long.MaxValue, false))
          it.toArray.sortBy(e => (tsKey(e.ts), e.eventId)).foreach { e =>
            val us = tsMicros(e.ts)
            // min(), not first-seen: a cross-batch late-arriving
            // OLDER step event re-derives the EARLIEST qualifying
            // time instead of freezing the first one seen (under
            // event-time-ordered arrival the two are identical, so
            // batch parity is unchanged; under reordering this is
            // strictly closer to the batch fold). Residual
            // assumption, documented in the scaladoc: a step-k event
            // REJECTED before an older step-(k−1) later lowers the
            // threshold is not revisited — exactness there would
            // need unbounded per-user step-time history.
            e.step match {
              case 1 => st = st.copy(t1 = math.min(st.t1, us))
              case 2 => if (us > st.t1)
                st = st.copy(t2 = math.min(st.t2, us))
              case 3 => if (us > st.t2) st = st.copy(s3 = true)
              case _ => ()
            }
          }
          state.update(st)
          Iterator.single(FunnelOut(uid,
            if (st.t1 != Long.MaxValue) 1 else 0,
            if (st.t2 != Long.MaxValue) 1 else 0,
            if (st.s3) 1 else 0))
      }
  }
}
