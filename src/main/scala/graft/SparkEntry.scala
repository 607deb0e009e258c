package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{denseGrid, dot, gridEntry, let, safeDiv, SMAX, Eod, Graft, Pii, Text, Tick}
import graft.operators.{AsOfJoin, Cluster, Corpus, Dedup, Drawdown, Multimodal, Resample, Similarity, Sketch}
import graft.sim.MarketSim

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory each query key maps to.
  *
  * Oracle-parity conventions (SURVEY §6):
  *   - every float output is round()ed identically on both sides;
  *   - row identity is (event_type, event_id) — never raw timestamps
  *     (Spark truncates parquet ns → µs; DuckDB keeps ns);
  *   - window order is always (ts, event_id) — deterministic;
  *   - money-style sums go through DECIMAL casts (order-independent,
  *     exact) instead of float sums;
  *   - scalar constants (e.g. deannualized rf) are computed once in
  *     Scala and inlined into the oracle SQL as round-trip literals.
  */
object SparkEntry {

  // ------------------------------------------------------------ helpers

  private def events(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(s, dir, "events")

  // ------------------------------------------------ streaming replay
  //
  // Every streaming_* query is a real Structured Streaming run: its
  // source table is staged into a watched landing dir (a production
  // ingest watches exactly such a dir), the query's transform runs to
  // a foreachBatch parquet sink under Trigger.AvailableNow, and the
  // sink is read back for the DuckDB compare. The harness below owns
  // that whole policy — staging, partitioning, the run and its timings;
  // a query body supplies only its transform. Keep any row filtering
  // in the SINK or post-replay: a pre-agg filter can be pushed below
  // the EventTimeWatermark node (see [[sentinelReplay]]).

  /** Per-tag replay phase timings (seconds), recorded by [[runReplay]]
    * for the bench: `stage` = tempdir + source-file staging, `wall` =
    * stream start → termination summed over the tag's runs, `addBatch`
    * = Σ micro-batch addBatch durations from the progress log (the
    * actual operator execution — wall minus addBatch is AvailableNow
    * startup/checkpoint infra). Bench clears this before each query
    * and reads it after, so a streaming query's record can split
    * harness cost from engine cost.
    */
  val replayStats =
    scala.collection.concurrent.TrieMap[String, (Double, Double, Double)]()

  /** Non-streaming setup cost (sec) a query pays at build time before
    * its timed plan runs — today the bucketed CTAS writes of
    * rel_bucketed_join (at scale that layout is written ONCE per lake
    * refresh; the join is what runs per query). Bench clears and reads
    * this per rep so the record splits setup from the operator cost.
    */
  val setupStats = scala.collection.concurrent.TrieMap[String, Double]()

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
    replayStats(tag) = (stage, wall, addBatch)
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

  /** floor(x·1e6 + 0.5)/1e6, NOT round(x, 6), for doubles derived from
    * exact integer sums: those make ties at the 6th decimal EXACT (e.g.
    * sum_q/n landing on …5), where Spark's HALF_UP and DuckDB's
    * half-even disagree; floor+0.5 is the same deterministic function of
    * the same double on both engines.
    */
  private def q6(c: Column): Column = floor(c * 1e6 + lit(0.5)) / 1e6
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.load(s, dir, name)

  /** LSH plane count for the kNN-graph family (ann_knn_graph,
    * embed_pagerank, ann_hubness). The driver validates at sf ≤ 0.1
    * where 4 planes (16 buckets/table) keep recall near-exhaustive and
    * the oracle replays the same hard-coded constants; at production
    * scale set the session conf `graft.ann.planes` to
    * [[graft.operators.Similarity.planesForN]](corpus size) so bucket
    * occupancy — and with it the Σ bucket² candidate-join cost — stays
    * flat as the corpus grows. The Scale probes run exactly that path:
    * with planes fixed at 4, a 100k-vector corpus puts ~6k vectors in
    * every bucket and the pair join explodes ~quadratically (measured:
    * 8.3 s → 49 s for 1×→10× before this knob).
    */
  private def annPlanes(s: SparkSession): Int =
    s.conf.getOption("graft.ann.planes").map(_.toInt).getOrElse(4)

  /** Per-asset ordered window: the one shuffle all series ops share. */
  private val wT = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
  private val ordCols = Seq(col("ts"), col("event_id"))

  /** Synthetic deterministic columns shared by Spark and oracle SQL. */
  private val volume = (col("event_id") % 100 + 1).cast("double")         // tick volume
  private val stablePrice = lit(100.0) + (col("event_id") % 21 - 10) / 10.0 // bounded price
  private val smallRet = (col("event_id") % 7 - 3) / 1000.0               // bounded returns
  private val annRet = col("value") / 100000.0                            // small annual ret

  private val SQL_VOL = "(event_id % 100 + 1)::DOUBLE"

  /** Range-volatility constants (op 184), inlined into the oracle SQL
    * as round-trip double literals so both engines divide by the SAME
    * double (the scalar-constant convention in the header).
    */
  private val FourLn2 = 4.0 * math.log(2.0)        // 2.772588722239781
  private val GkWeight = 2.0 * math.log(2.0) - 1.0 // 0.3862943611198906
  private val PiOver2 = math.Pi / 2.0              // 1.5707963267948966
  private val CsK = 3.0 - 2.0 * math.sqrt(2.0)     // 0.1715728752538097
  private val SQL_STABLE = "(100.0 + (event_id % 21 - 10) / 10.0)"
  private val SQL_SMALLRET = "((event_id % 7 - 3) / 1000.0)"
  private val SQL_ANNRET = "(value / 100000.0)"

  /** Deannualized rf constant, inlined into SQL as a round-trip literal. */
  private val RF = 0.05
  private val NP = 252
  private val rfPeriodic: Double = math.pow(1.0 + RF, 1.0 / NP) - 1.0
  private val RF_LIT: String = java.lang.Double.toString(rfPeriodic)

  /** SQL twin of [[Corpus.md5Uniform]]'s 32-bit word over an arbitrary
    * SQL string expression: first 8 hex chars of md5(<c>) as an
    * integer via strpos arithmetic (engine-neutral base-16 decode).
    */
  private def md5Word8Sql(c: String): String = (1 to 8).map(j =>
    s"(strpos('0123456789abcdef', substr(md5($c), $j, 1)) - 1) * ${math.pow(16, 8 - j).toLong}"
  ).mkString("(", " + ", ")")

  /** returns CTE shared by many oracles. */
  private val R_CTE =
    """WITH r AS (
      |  SELECT event_type, event_id, ts, value,
      |         value / lag(value) OVER w - 1 AS ret
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
      |)""".stripMargin

  /** rn-paired (pair_id, ra, rb) CTE — every non-'view' return series
    * joined to the 'view' benchmark on rn (the oracle twin of
    * [[pairedReturnsVsView]]), shared by the rolling beta/corr pair.
    */
  private val PAIRED_CTE =
    s"""$R_CTE, s AS (
      |  SELECT event_type, ret,
      |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      |  FROM r
      |), p AS (
      |  SELECT a.event_type AS pair_id, a.rn, a.ret AS ra, b.ret AS rb
      |  FROM s a JOIN s b USING (rn)
      |  WHERE a.event_type <> 'view' AND b.event_type = 'view'
      |)""".stripMargin

  /** Oracle twin of [[graft.functions.Eod.rollingBeta]] and
    * [[graft.functions.Eod.rollingCorr]]: the cumulative-sum +
    * lag-difference CTEs appended to PAIRED_CTE. `cum − lag(cum, k)`
    * is the library's frame difference (running sum minus the running
    * sum k rows back), so both engines derive from the same sums; keep
    * the algebra in lockstep with those functions.
    */
  private def prefixFrameSql(k: Int, includeXx: Boolean): String = {
    val xxCum = if (includeXx) ",\n    sum(ra * ra) OVER cum AS cxx" else ""
    val xxDif = if (includeXx)
      s",\n    cxx - coalesce(lag(cxx, $k) OVER wp2, 0.0) AS sxx" else ""
    s""", c AS (
      |  SELECT pair_id, rn,
      |    row_number() OVER wp AS i,
      |    sum(ra) OVER cum AS cx, sum(rb) OVER cum AS cy,
      |    sum(ra * rb) OVER cum AS cxy, sum(rb * rb) OVER cum AS cyy$xxCum
      |  FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL
      |  WINDOW wp AS (PARTITION BY pair_id ORDER BY rn),
      |         cum AS (PARTITION BY pair_id ORDER BY rn
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), d AS (
      |  SELECT pair_id, rn, CAST(least(i, $k) AS DOUBLE) AS n,
      |    cx - coalesce(lag(cx, $k) OVER wp2, 0.0) AS sx,
      |    cy - coalesce(lag(cy, $k) OVER wp2, 0.0) AS sy,
      |    cxy - coalesce(lag(cxy, $k) OVER wp2, 0.0) AS sxy,
      |    cyy - coalesce(lag(cyy, $k) OVER wp2, 0.0) AS syy$xxDif
      |  FROM c WINDOW wp2 AS (PARTITION BY pair_id ORDER BY rn)
      |)""".stripMargin
  }

  /** drawdown CTE (prices have no nulls in testdata; ffill is identity). */
  private val DD_CTE =
    """WITH d AS (
      |  SELECT event_type, event_id, ts, value,
      |         value / max(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS dd
      |  FROM events
      |)""".stripMargin

  private def withRet(s: SparkSession, dir: String): DataFrame =
    events(s, dir).withColumn("ret", Eod.toReturns(col("value"), wT))

  /** Shared by ops 340/359: complete rn blocks with DOUBLED
    * within-block midranks (d = 2·rank + RANGE-peers − 1) of the
    * 1e-6-quantized returns, plus the block count `k` column — one
    * hash(rn) exchange, both window functions on the same sort.
    */
  private def friedmanRanked(s: SparkSession, dir: String): DataFrame = {
    val base = withRet(s, dir).where(col("ret").isNotNull)
      .withColumn("rq", floor(col("ret") * 1e6 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(wT))
      .select(col("event_type"), col("rn"), col("rq"))
    val kRel = base.agg(countDistinct(col("event_type")).as("k"))
    val wBlk = Window.partitionBy(col("rn"))
    val wRank = Window.partitionBy(col("rn")).orderBy(col("rq"))
    val wPeers = Window.partitionBy(col("rn")).orderBy(col("rq"))
      .rangeBetween(Window.currentRow, Window.currentRow)
    base
      .withColumn("bc", count(lit(1)).over(wBlk))
      .crossJoin(broadcast(kRel))
      .where(col("bc") === col("k"))
      .withColumn("d",
        lit(2) * rank().over(wRank) + count(lit(1)).over(wPeers) - 1)
  }

  /** Shared by ops 297/353: per-series rank sums over EXACT global
    * midranks of the 1e-6-quantized returns, via the two-level
    * distributed prefix sum (per-bucket cumulative window + broadcast
    * super-bucket offsets — no single-partition window). Returns
    * (per-series Σmidrank/count, tie relation Σ(c³−c)). Midranks are
    * half-integers, so every double term is exactly representable and
    * the sums are addition-order-free.
    *
    * `pin = false` (tests only) skips the localCheckpoint pins so
    * PlanSpec can assert the two-level shape on the full producer plan
    * — the pins hide it behind `Scan ExistingRDD` in production.
    */
  private[graft] def kruskalRankSums(s: SparkSession, dir: String,
                                     pin: Boolean = true)
      : (DataFrame, DataFrame) = {
    def pinned(df: DataFrame): DataFrame = if (pin) df.localCheckpoint() else df
    val gq = pinned(withRet(s, dir).where(col("ret").isNotNull)
      .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
      .groupBy(col("event_type"), col("q"))
      .agg(count(lit(1)).as("cg")))
    val qc = gq.groupBy(col("q")).agg(sum(col("cg")).as("c"))
      .withColumn("b", floor(col("q") / lit(500.0)).cast("long"))
    val bt = qc.groupBy(col("b")).agg(sum(col("c")).as("tb"))
      .withColumn("sb", floor(col("b").cast("double") / 4096.0).cast("long"))
    val sbt = bt.groupBy(col("sb")).agg(sum(col("tb")).as("stb"))
    val sbOffs = sbt.select(col("sb"))
      .join(broadcast(sbt.select(col("sb").as("sb2"), col("stb"))),
        col("sb2") < col("sb"), "left")
      .groupBy(col("sb"))
      .agg(coalesce(sum(col("stb")), lit(0L)).as("soff"))
    val wSb = Window.partitionBy(col("sb")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = bt.join(broadcast(sbOffs), "sb")
      .withColumn("off",
        col("soff") + sum(col("tb")).over(wSb) - col("tb"))
      .select(col("b"), col("off"))
    val wB = Window.partitionBy(col("b")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r15: mid feeds BOTH the rank-sum join and the tie aggregate —
    // pin the grid-bounded midrank relation so the two-level prefix
    // sum above runs once per query, not twice. At cluster scale
    // swap for `checkpoint` (the SemDeDup convention).
    val mid = pinned(qc.join(broadcast(offs), "b")
      .withColumn("cum", col("off") + sum(col("c")).over(wB))
      .withColumn("mid",
        ((col("cum") - col("c") + 1) + col("cum")).cast("double") / 2.0)
      .select(col("q"), col("c"), col("mid")))
    // r14: rg feeds 2-3 consumers in stats_kruskal/stats_dunn (margins
    // + the pairwise self-join) — pin the k-row rank-sum relation so
    // the midrank chain above runs once per query, not per consumer.
    // At cluster scale swap localCheckpoint for `checkpoint` (the
    // SemDeDup convention, Cluster.semanticDedupVerdict); pinned size
    // is the k-row rank-sum table — flat in corpus (SCALE §19).
    val rg = pinned(gq.join(mid, "q")
      .groupBy(col("event_type"))
      .agg(sum(col("cg") * col("mid")).as("rgsum"),
        sum(col("cg")).as("ng")))
    val ties = mid.agg(
      sum(col("c") * col("c") * col("c") - col("c")).as("t"))
    (rg, ties)
  }

  /** Exact pair moments of the rn-aligned return cross-section on the
    * 1e-6 grid: per (ta, tb) — n and the long/decimal sums Σqa, Σqb,
    * Σqaqb, Σqa², Σqb² (products through decimal(38,0): a near-zero
    * price crossing puts q² ~ 1e20 past 2^63). Built with the
    * eod_corr_matrix bucket-pair shape — ONE returns window, the
    * cross-section grouped once and pairs emitted inside the group —
    * and shared by every K×K matrix op (PCA factor, tangency, risk
    * parity), so correlation/covariance entries are identical integers
    * on any engine/partitioning.
    *
    * Upper triangle only: one row per pair with `ta <= tb` (each rn's
    * list sorts by name and pairs an entry with itself and the entries
    * after it). The moments are symmetric in a/b, so a caller reads
    * cell (i, j) from the (least, greatest) row — [[pairGrid]] does.
    *
    * Not pinned: each caller reads the relation once, through
    * [[pairGrid]]'s single aggregation, so a pin would add a job and
    * hide the producer plan without saving any recomputation — and
    * unpinned, column pruning drops the Σqa²/Σqb² sums the covariance
    * callers never read.
    */
  private def quantizedPairMoments(s: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(19,0)")
    withRet(s, dir).withColumn("rn", row_number().over(wT))
      .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
      .groupBy(col("rn"))
      .agg(array_sort(collect_list(struct(col("event_type"), col("q"))))
        .as("l"))
      .select(posexplode(col("l")).as(Seq("p", "a")), col("l"))
      .select(col("a"),
        explode(slice(col("l"), col("p") + 1, size(col("l")))).as("b"))
      .where(col("a.q").isNotNull && col("b.q").isNotNull)
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("n"),
        sum(col("a.q")).as("sa"), sum(col("b.q")).as("sb"),
        sum(dec(col("a.q")) * dec(col("b.q"))).as("sab"),
        sum(dec(col("a.q")) * dec(col("a.q"))).as("saa"),
        sum(dec(col("b.q")) * dec(col("b.q"))).as("sbb"))
  }

  private def d38(v: Long): Column = lit(v).cast("decimal(38,0)")

  /** The quantized covariance cell of a [[quantizedPairMoments]] row on
    * the integer 1e-12 grid: ⌊(n·Σab − Σa·Σb)/(n(n−1))⌉ (tangency and
    * risk parity; symmetric in a/b).
    */
  private val quantizedCov: Column = {
    val dec = (c: Column) => c.cast("decimal(19,0)")
    val num = dec(col("n")) * col("sab") - dec(col("sa")) * dec(col("sb"))
    floor(num.cast("double") /
      (col("n").cast("double") * (col("n").cast("double") - 1.0))
      + 0.5).cast("decimal(38,0)")
  }

  /** Runs a k×k portfolio solve on ONE row. Aggregates
    * [[quantizedPairMoments]] once into the grid `g`, a struct of
    * `ty` (the k series names, sorted), `c` (k rows of k `cell` values,
    * row-major by name) and one k-array per `diag` expression, evaluated
    * on the diagonal rows and aligned with `ty`. `solve(g)` returns one
    * struct per output row. `cell` must be symmetric in a/b: (i, j) and
    * (j, i) both read the upper-triangle row, mirrored below the
    * diagonal before [[graft.functions.denseGrid]] pads the holes with
    * `zero`. Raises past SMAX series, before any solve work.
    */
  private def pairGrid(s: SparkSession, dir: String, query: String,
                       cell: Column, zero: Column, diag: (String, Column)*)
                      (solve: Column => Column): DataFrame = {
    val k = size(col("d"))
    val grid = let(when(k > SMAX, raise_error(concat(lit(s"$query: "),
        k.cast("string"), lit(s" series exceed the SMAX=$SMAX bound " +
          "of the one-row k-by-k solve"))))
        .otherwise(transform(col("d"), _("t")))) { ty =>
      val mirrored = flatten(transform(col("l"), x =>
        when(x("ta") === x("tb"), array(x))
          .otherwise(array(x, gridEntry(x("tb"), x("ta"), x("v"))))))
      struct(Seq(ty.as("ty"), denseGrid(ty, ty, mirrored, zero).as("c")) ++
        diag.map { case (n, _) => transform(col("d"), _(n)).as(n) }: _*)
    }
    quantizedPairMoments(s, dir).agg(
        collect_list(gridEntry(col("ta"), col("tb"), cell)).as("l"),
        array_sort(collect_list(when(col("ta") === col("tb"),
          struct(col("ta").as("t") +: diag.map { case (n, e) => e.as(n) }: _*))))
          .as("d"))
      .select(inline(let(grid)(solve)))
  }

  /** The click/view return series rn-paired into (rn, ra, rb) — one
    * window pass + pivot, shared by information ratio and the rolling
    * beta/corr pair. Unpaired rows keep nulls; callers that need both
    * sides filter them.
    */
  private def pairedClickViewReturns(s: SparkSession, dir: String): DataFrame =
    withRet(s, dir)
      .where(col("event_type").isin("click", "view"))
      .withColumn("rn", row_number().over(wT))
      .groupBy(col("rn"))
      .agg(max(when(col("event_type") === "click", col("ret"))).as("ra"),
        max(when(col("event_type") === "view", col("ret"))).as("rb"))

  /** Every non-'view' return series rn-paired against the 'view'
    * benchmark: (pair_id, rn, ra, rb), the rows where both returns are
    * present. One per-asset window pass for rn, then an equi-join on rn
    * against the benchmark slice. The join shuffles on rn; the rolling
    * windows downstream re-partition by pair_id — four real pairs here,
    * N pairs at scale, so the rolling WindowExec is genuinely
    * partitioned (never single-partition).
    */
  private def pairedReturnsVsView(s: SparkSession, dir: String): DataFrame = {
    val r = withRet(s, dir).withColumn("rn", row_number().over(wT))
    val bench = r.where(col("event_type") === "view")
      .select(col("rn"), col("ret").as("rb"))
    r.where(col("event_type") =!= "view")
      .select(col("event_type").as("pair_id"), col("rn"), col("ret").as("ra"))
      .join(bench, "rn")
      .where(col("ra").isNotNull && col("rb").isNotNull)
  }

  /** The per-pair order the rolling pair queries' frames run over. */
  private val wPair = Window.partitionBy(col("pair_id")).orderBy(col("rn"))

  private def withDd(s: SparkSession, dir: String): DataFrame =
    events(s, dir).withColumn("dd", Eod.toDrawdownSeries(col("value"), wT))

  // ------------------------------------------------------------ flagship

  /** Flagship: TPC-H-Q1-shaped pricing summary on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    relPricingSummary(spark, "/root/testdata/sf0.001")

  private def relPricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    // DECIMAL sums: exact + order-independent → identical to the oracle.
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity").cast("decimal(30,8)")).cast("double"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(30,8)")).cast("double"), 2).as("sum_base_price"),
        round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(30,8)")).cast("double"), 2).as("sum_disc_price"),
        round(avg(col("l_quantity").cast("decimal(30,8)")).cast("double"), 6).as("avg_qty"),
        round(avg(col("l_discount").cast("decimal(30,8)")).cast("double"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  // ------------------------------------------------------------ queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ pipelineQueries

  def oracleSql: Map[String, String] = {
    val p = coreOracles ++ pipelineOracles
    // ops 123/124: the streamed sketch state equals the batch state
    // (HLL registers max-merge; CMS counters only grow, so the sink
    // max-merge is the final cumulative table) — the streaming queries
    // share the batch ops' oracles.
    p + ("streaming_hll" -> p("sketch_hll")) +
      ("streaming_cms" -> p("sketch_cms_topk")) +
      ("streaming_kmv" -> p("sketch_kmv")) +
      // op 136: streamed bar ids equal the batch ids (exact integer
      // prefix state), so the bar twins replay the batch bar oracles.
      ("streaming_volume_bars" -> p("tick_volume_bars")) +
      ("streaming_dollar_bars" -> p("tick_dollar_bars")) +
      // op 194: the stamped (bar, dirn, volume) triples equal the
      // batch op's (integer prefix + order-pinned last price), so the
      // sink-side toxicity report replays the batch VPIN oracle.
      ("streaming_vpin" -> p("tick_vpin")) +
      // op 337: reach flags are monotone and keyed by the EARLIEST
      // qualifying step times, so the max-merged sink equals the batch
      // funnel exactly — the stream replays the batch op-330 oracle.
      ("streaming_funnel" -> p("events_funnel")) +
      // op 339: closed intervals + per-batch open-row re-emissions,
      // min(valid_to)-merged in the sink, equal the batch SCD2 table —
      // the stream replays the batch op-332 oracle.
      ("streaming_scd2" -> p("events_scd2")) +
      // op 345: the emitted (from, to) pair multiset equals the batch
      // lag pairs (one-string state), so the rollup replays the batch
      // op-338 oracle.
      ("streaming_transitions" -> p("events_transitions")) +
      // op 358: the emitted 3-path multiset equals the batch two-lag
      // paths (two-string state) — replays the batch op-356 oracle.
      ("streaming_journeys" -> p("events_journeys")) +
      // op 361: each conversion's emitted (last, first, rev) equals
      // the batch running-window row — replays the batch op-335 oracle.
      ("streaming_attribution" -> p("events_attribution")) +
      // op 366: signup markers + first-conversion lags equal the batch
      // first/first-later aggs — replays the batch op-364 oracle.
      ("streaming_conversion_lag" -> p("events_conversion_lag")) +
      // op 346: per-arrival kernel sums over the pre-append ≤60-arrival
      // state equal the batch rowsBetween(−60,−1) frame — the stream
      // replays the batch op-342 oracle.
      ("streaming_hawkes" -> p("tick_hawkes")) +
      // op 142: counts only grow, so the max-merged Update sink equals
      // the batch bin table and the report replays the batch oracle.
      ("streaming_quantiles" -> p("sketch_quantiles")) +
      // op 147: same md5 coin, same (key, id) bottom-n — the streamed
      // sample equals the batch stratified sample exactly.
      ("streaming_sample" -> p("corpus_sample_n")) +
      // op 154: stateless probes of the capped index emit the same
      // pair set as the batch kNN graph (equi-join cap equivalence),
      // so the compacted sink replays the batch oracle.
      ("streaming_knn_graph" -> p("ann_knn_graph")) +
      // op 161: per-source counts only grow, so the max-merged Update
      // sink equals the batch count table and the shared quantized
      // weight algebra replays the batch mixture oracle.
      ("streaming_mixture" -> p("corpus_mixture")) +
      // op 170: the gate is map-only (no state, no shuffle), so the
      // streamed Append sink equals the batch table row-for-row.
      ("streaming_quality_gate" -> p("corpus_gopher")) +
      // op 283: same stateless-map argument for the readability gate.
      ("streaming_readability" -> p("text_readability")) +
      // op 201: the split map is stateless, the sink equals the batch
      // assignment row-for-row → the manifest replays op 197's oracle.
      ("streaming_split" -> p("corpus_split")) +
      // op 244: per-(symbol, hour) integer volume counts only grow,
      // so the max-merged Update sink equals the batch table and the
      // share report replays op 242's oracle.
      ("streaming_volume_profile" -> p("tick_volume_profile")) +
      // op 246: contingency cells only grow — same argument, same
      // exact χ² algebra on the max-merged final counts.
      ("streaming_chi2" -> p("stats_chi2_independence"))
  }

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] =
    // ListMap: DECLARATION-order iteration (r12 verdict #5) — a plain
    // Map hashes, so adding one query reshuffled every round's
    // execution/emission order and made BENCH_LOCAL diffs positionally
    // incomparable. Bench additionally sorts by name for emission.
    scala.collection.immutable.ListMap(
    // ---- EOD series (SURVEY §2 ops 1,2,7,8,12,6,20,21)
    "eod_returns" -> ((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.toReturns(col("value"), wT), 6).as("ret"))),
    "eod_log_returns" -> ((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.toLogReturns(col("value"), wT), 6).as("log_ret"))),
    "eod_price_index" -> ((s, dir) =>
      events(s, dir).withColumn("sret", smallRet)
        .select(col("event_type"), col("event_id"),
          round(Eod.toPriceIndex(col("sret"), wT), 4).as("price_index"))),
    "eod_rebase" -> ((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.rebase(col("value"), wT), 6).as("rebased"))),
    "eod_drawdown" -> ((s, dir) =>
      withDd(s, dir).select(col("event_type"), col("event_id"),
        round(col("dd"), 6).as("drawdown"))),
    "eod_excess_returns" -> ((s, dir) =>
      withRet(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.toExcessReturns(col("ret"), RF, NP), 6).as("excess"))),
    "eod_deannualize" -> ((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.deannualize(col("value") / 100.0, NP), 6).as("deannualized"))),
    "eod_annualize" -> ((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.annualize(annRet, (col("event_id") % 30 + 1).cast("double")), 6)
          .as("annualized"))),

    // ---- EOD aggregates (ops 3,4,5,9,10,11,13,14,15,16,17,18,22,23,24)
    "eod_total_return" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.totalReturn(col("value"), col("ts")), 6).as("total_return"))),
    "eod_cagr" -> ((s, dir) =>
      events(s, dir).withColumn("p", stablePrice).groupBy(col("event_type"))
        .agg(round(Eod.cagr(col("p"), col("ts")), 6).as("cagr"))),
    "eod_year_frac" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.yearFrac(col("ts")), 6).as("year_frac"))),
    "eod_mtd" -> ((s, dir) =>
      events(s, dir)
        .withColumn("max_ts", max(col("ts")).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(round(Eod.mtd(col("value"), col("ts"), col("max_ts")), 6).as("mtd"))),
    "eod_ytd" -> ((s, dir) =>
      events(s, dir)
        .withColumn("max_ts", max(col("ts")).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(round(Eod.ytd(col("value"), col("ts"), col("max_ts")), 6).as("ytd"))),
    "eod_sharpe" -> ((s, dir) =>
      withRet(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.sharpe(col("ret"), RF, NP), 6).as("sharpe"))),
    "eod_risk_return" -> ((s, dir) =>
      withRet(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.riskReturnRatio(col("ret")), 6).as("risk_return_ratio"))),
    "eod_sortino" -> ((s, dir) =>
      withRet(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.sortino(col("ret"), RF, NP), 6).as("sortino"))),
    "eod_information_ratio" -> ((s, dir) =>
      // One window pass + rn-pivot (see eod_prob_mom): unpaired rows
      // null out and avg/stddev drop them, matching the inner join.
      pairedClickViewReturns(s, dir)
        .agg(round(Eod.informationRatio(col("ra"), col("rb")), 6).as("ir"))),
    "eod_max_drawdown" -> ((s, dir) =>
      withDd(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.maxDrawdownFromDrawdown(col("dd")), 6).as("max_drawdown"))),
    "eod_ulcer_index" -> ((s, dir) =>
      withDd(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.ulcerIndexFromDrawdown(col("dd")), 6).as("ulcer_index"))),
    "eod_upi" -> ((s, dir) =>
      withDd(s, dir).withColumn("ret", Eod.toReturns(col("value"), wT))
        .groupBy(col("event_type"))
        .agg(round(Eod.ulcerPerformanceIndex(col("ret"), col("dd")), 6).as("upi"))),
    // Pain index + pain ratio (op 195, the L1 sibling of the ulcer
    // family): pain = mean depth of the drawdown series (ulcer is the
    // L2 form), pain ratio = CAGR over pain — the Calmar shape with
    // the average, not the worst, drawdown in the denominator. The
    // ratio runs on the bounded stablePrice series (the eod_calmar
    // convention); never-underwater series yield null via safeDiv.
    "eod_pain_index" -> ((s, dir) =>
      events(s, dir).withColumn("p", stablePrice)
        .withColumn("dd", Eod.toDrawdownSeries(col("value"), wT))
        .withColumn("ddp", Eod.toDrawdownSeries(col("p"), wT))
        .groupBy(col("event_type"))
        .agg((round(avg(-col("dd")), 6) + lit(0.0)).as("pain_index"),
          (round(safeDiv(Eod.cagr(col("p"), col("ts")), avg(-col("ddp"))), 6)
            + lit(0.0)).as("pain_ratio"))),
    "eod_calmar" -> ((s, dir) => {
      val e = events(s, dir).withColumn("p", stablePrice)
        .withColumn("dd", Eod.toDrawdownSeries(col("p"), wT))
      e.groupBy(col("event_type"))
        .agg(round(Eod.calmar(col("p"), col("ts"), col("dd")), 6).as("calmar"))
    }),
    "eod_infer_nperiods" -> ((s, dir) =>
      events(s, dir)
        .withColumn("delta_sec", Tick.tsDeltaNs(col("ts"), wT) / 1e9)
        .groupBy(col("event_type"))
        .agg(Eod.inferNperiods(col("delta_sec")).as("nperiods"))),
    "eod_infer_freq" -> ((s, dir) =>
      events(s, dir)
        .withColumn("delta_days", Tick.tsDeltaNs(col("ts"), wT) / lit(86400.0 * 1e9))
        .groupBy(col("event_type"))
        .agg(Eod.inferFreq(col("delta_days")).as("freq"))),

    // ---- EOD risk extensions beyond the reference surface (ops 103-107)
    // Historical VaR + CVaR: the 5% quantile as a per-asset window
    // value, then one agg over the same partitioning — two passes over
    // one shuffle, no re-scan.
    "eod_var_cvar" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("var5", Eod.valueAtRisk(col("ret"), 0.05).over(wSym))
        .groupBy(col("event_type"))
        .agg(round(min(col("var5")), 6).as("var_5"),
          round(Eod.cvarGivenVar(col("ret"), col("var5")), 6).as("cvar_5"))
    }),
    // Acerbi–Székely direct ES backtest (op 321; Acerbi/Székely 2014
    // Z₂): completes the VaR validation family — Kupiec tests breach
    // FREQUENCY (op 248), Christoffersen their INDEPENDENCE (op 250),
    // Z₂ their MAGNITUDE against the predicted expected shortfall.
    // Out-of-sample by construction (in-sample ES degenerates Z₂ to
    // the breach count): VaR/ES estimated on each series' first half
    // (R-7 quantile, tail mean from 1e-6-quantized EXACT sums),
    // Z₂ = Σ_breach x/(T·α·ES) + 1 on the second half — E[Z₂] = 0
    // under a correct model, < 0 when tail losses exceed the
    // prediction. All sums integer-exact; Z₂ is one double expression
    // on identical integers. Two keyed aggs + broadcast joins.
    "eod_es_backtest" -> ((s, dir) => {
      // r14: r feeds the totals agg and (via rr) both the train and
      // test halves — pin the rn-stamped returns so the withRet
      // window runs once, not three times.
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("rn", row_number().over(wT))
        .select(col("event_type"), col("rn"), col("ret"))
        .localCheckpoint()
      val tot = r.groupBy(col("event_type")).agg(count(lit(1)).as("ntot"))
      val rr = r.join(broadcast(tot), "event_type")
        .withColumn("half", expr("ntot div 2"))
      val train = rr.where(col("rn") <= col("half"))
      val varT = train.groupBy(col("event_type"))
        .agg(Eod.valueAtRisk(col("ret"), 0.05).as("var5"))
      val qr = floor(col("ret") * 1e6 + 0.5).cast("long")
      // INTENTIONAL <=/< asymmetry at the VaR grid point: the train
      // tail-ES includes returns AT var5 (`<=`, the inclusive
      // lower-tail expectation E[r | r <= VaR] — the ES definition),
      // while test BREACHES are strict (`<`, a breach means the loss
      // EXCEEDED the prediction — the backtest convention, same as
      // eod_var_backtest/Kupiec below). A return sitting exactly on
      // the quantized var5 therefore counts toward the ES estimate
      // but not as a breach; both oracles mirror both comparisons,
      // so parity is exact — this comment pins the convention so the
      // asymmetry reads as a choice, not a slip.
      val trainEs = train.join(broadcast(varT), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("var5")).as("var5"),
          sum(when(col("ret") <= col("var5"), qr).otherwise(lit(0L)))
            .as("tq"),
          sum(when(col("ret") <= col("var5"), 1L).otherwise(0L)).as("tn"))
        .withColumn("es",
          col("tq").cast("double") / 1e6 / col("tn").cast("double"))
      val test = rr.where(col("rn") > col("half"))
        .join(broadcast(trainEs), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_test"),
          max(col("var5")).as("var5"), max(col("es")).as("es"),
          sum(when(col("ret") < col("var5"), qr).otherwise(lit(0L)))
            .as("bq"),
          sum(when(col("ret") < col("var5"), 1L).otherwise(0L))
            .as("n_breach"))
      val z2 = (col("bq").cast("double") / 1e6) /
        (col("n_test").cast("double") * 0.05 * col("es")) + lit(1.0)
      test.select(col("event_type"), col("n_test"), col("n_breach"),
          round(col("var5"), 6).as("var_train"),
          round(col("es"), 6).as("es_train"),
          (round(when(col("es") < 0, z2), 6) + lit(0.0)).as("z2"),
          when(col("es") < 0, round(when(col("es") < 0, z2), 6) < 0.0)
            .as("es_underestimates_tail"))
    }),
    // Kupiec proportion-of-failures VaR backtest (op 248; Kupiec
    // 1995): does the 5% VaR actually fail 5% of the time — the
    // regulatory validation of op 103. Breaches counted against the
    // full-sample R-7 cut (identical double both engines), LR_pof =
    // −2[(n−x)ln(1−p) + x·ln p − (n−x)ln(1−x/n) − x·ln(x/n)] with
    // the x = 0 term defined 0; reject at the χ²(1) 95% critical
    // value (shared round-trip literal). One window + one agg.
    "eod_var_backtest" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      val crit = 3.841458820694124 // qchisq(0.95, 1), published value
      val a = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("var5", Eod.valueAtRisk(col("ret"), 0.05).over(wSym))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ret") < col("var5"), 1L).otherwise(0L))
            .as("n_breach"))
      val nD = col("n").cast("double"); val xD = col("n_breach").cast("double")
      val lnP = math.log(0.05); val lnQ = math.log(0.95)
      val t = ((nD - xD) * lnQ + xD * lnP) -
        ((nD - xD) * log(lit(1.0) - xD / nD) +
          when(col("n_breach") > 0, xD * log(xD / nD)).otherwise(lit(0.0)))
      a.withColumn("lr", lit(-2.0) * t)
        .select(col("event_type"), col("n"), col("n_breach"),
          round(xD / nD, 6).as("breach_rate"),
          (round(col("lr"), 6) + lit(0.0)).as("lr_pof"),
          (col("lr") > crit).as("reject"))
    }),
    // Christoffersen independence test (op 250; Christoffersen 1998
    // — the op-248 companion): do VaR breaches CLUSTER — transition
    // counts n00/n01/n10/n11 of the breach indicator, LR_ind
    // comparing the Markov transition fit to the iid fit. Every π
    // is an exact integer ratio and every 0·ln0 term is defined 0
    // (guards mirrored verbatim in the oracle); reject at the χ²(1)
    // 95% critical value. One window + one agg.
    "eod_var_independence" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      val crit = 3.841458820694124
      val b = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("var5", Eod.valueAtRisk(col("ret"), 0.05).over(wSym))
        .withColumn("br", when(col("ret") < col("var5"), 1L).otherwise(0L))
        .withColumn("pb", lag(col("br"), 1).over(wT))
        .where(col("pb").isNotNull)
      val a = b.groupBy(col("event_type")).agg(
        sum(when(col("pb") === 0 && col("br") === 0, 1L).otherwise(0L)).as("n00"),
        sum(when(col("pb") === 0 && col("br") === 1, 1L).otherwise(0L)).as("n01"),
        sum(when(col("pb") === 1 && col("br") === 0, 1L).otherwise(0L)).as("n10"),
        sum(when(col("pb") === 1 && col("br") === 1, 1L).otherwise(0L)).as("n11"))
      def d(c: String) = col(c).cast("double")
      val nTot = d("n00") + d("n01") + d("n10") + d("n11")
      val pi = (d("n01") + d("n11")) / nTot
      val pi01 = d("n01") / (d("n00") + d("n01"))
      val pi11 = d("n11") / (d("n10") + d("n11"))
      def t(cnt: Column, lnArg: Column) =
        when(cnt > 0, cnt.cast("double") * log(lnArg)).otherwise(lit(0.0))
      val lr = lit(-2.0) * (
        t(col("n00") + col("n10"), lit(1.0) - pi) +
        t(col("n01") + col("n11"), pi) -
        t(col("n00"), lit(1.0) - pi01) - t(col("n01"), pi01) -
        t(col("n10"), lit(1.0) - pi11) - t(col("n11"), pi11))
      a.withColumn("lr", lr)
        .select(col("event_type"), col("n00"), col("n01"), col("n10"),
          col("n11"), (round(col("lr"), 6) + lit(0.0)).as("lr_ind"),
          (col("lr") > crit).as("reject"))
    }),
    // Wald–Wolfowitz runs test on tick directions (op 249): is the
    // order flow's sign sequence random — R runs of nonzero tick
    // signs vs E = 2n₊n₋/n + 1 and σ² = 2n₊n₋(2n₊n₋−n)/(n²(n−1));
    // every input an exact integer count, z identical double
    // algebra. The hypothesis-test companion to op 196's sign ACF.
    "tick_runs_test" -> ((s, dir) => {
      val d = when(col("value") > lag(col("value"), 1).over(wT), 1)
        .when(col("value") < lag(col("value"), 1).over(wT), -1).otherwise(0)
      val signs = events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"), d.as("sgn"))
        .where(col("sgn") =!= 0)
      val withPrev = signs
        .withColumn("prev", lag(col("sgn"), 1).over(wT))
      val a = withPrev.groupBy(col("event_type"))
        .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_neg"),
          (sum(when(col("prev").isNotNull && col("sgn") =!= col("prev"), 1L)
            .otherwise(0L)) + lit(1L)).as("n_runs"))
      val np = col("n_pos").cast("double"); val nn = col("n_neg").cast("double")
      val n = np + nn
      val e = lit(2.0) * np * nn / n + lit(1.0)
      val v = lit(2.0) * np * nn * (lit(2.0) * np * nn - n) /
        (n * n * (n - lit(1.0)))
      a.select(col("event_type"), col("n_pos"), col("n_neg"), col("n_runs"),
          (round((col("n_runs").cast("double") - e) / sqrt(v), 6) + lit(0.0))
            .as("z_stat"))
    }),
    // Hill tail-index estimator (op 247; Hill 1975): ξ = mean of
    // ln(x_(i)/x_(k+1)) over the k = 50 largest losses — the
    // fat-tail exponent α = 1/ξ that says whether variance even
    // exists (α < 2 = infinite-variance territory; VaR/CVaR
    // assumptions hinge on it). Losses quantize to 1e-6 longs, the
    // order statistic is a (ql DESC, event_id) rank — a total order
    // — and each ln of an exact integer ratio quantizes to 1e-9
    // longs → exact integer mean. One rank window + one tiny join.
    "eod_hill_tail" -> ((s, dir) => {
      val k = 50
      val losses = withRet(s, dir).where(col("ret") < 0)
        .withColumn("ql", floor(-col("ret") * 1e6 + 0.5).cast("long"))
        .where(col("ql") > 0)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ql").desc, col("event_id"))
      val ranked = losses.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= k + 1)
      val ref = ranked.where(col("rnk") === k + 1)
        .select(col("event_type"), col("ql").as("qref"))
      ranked.where(col("rnk") <= k).join(ref, "event_type")
        .withColumn("t", floor(log(col("ql").cast("double") /
          col("qref").cast("double")) * 1e9 + 0.5).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("k"),
          ((sum(col("t")).cast("double") / 1e9) / count(lit(1))).as("xi"))
        .select(col("event_type"), col("k"),
          round(col("xi"), 6).as("hill_xi"),
          (round(lit(1.0) / col("xi"), 6) + lit(0.0)).as("tail_alpha"))
    }),
    // Rachev ratio (op 228, the op-103 kernel on BOTH tails): mean
    // of the top-5% gain tail over |mean of the bottom-5% loss
    // tail| — reward-tail versus risk-tail, the distribution-shape
    // companion to omega. Same one-window + one-agg shape as
    // var/cvar, R-7 quantile cuts on both sides.
    "eod_rachev" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      withRet(s, dir).where(col("ret").isNotNull)
        // r14: both tail cuts from ONE percentile buffer per partition
        // (identical R-7 values, one sort not two).
        .withColumn("_v2", percentile(col("ret"),
          array(lit(0.05), lit(0.95))).over(wSym))
        .withColumn("var5", element_at(col("_v2"), 1))
        .withColumn("g95", element_at(col("_v2"), 2))
        .groupBy(col("event_type"))
        .agg(round(avg(when(col("ret") >= col("g95"), col("ret"))), 6)
            .as("gain_tail"),
          round(avg(when(col("ret") <= col("var5"), col("ret"))), 6)
            .as("loss_tail"),
          (round(avg(when(col("ret") >= col("g95"), col("ret"))) /
            (-avg(when(col("ret") <= col("var5"), col("ret")))), 6)
            + lit(0.0)).as("rachev"))
    }),
    // Conditional drawdown at risk (op 148): the VaR/CVaR pattern
    // applied to the DRAWDOWN distribution (Chekhlov/Uryasev/Zabarankin
    // 2005) — the 5th-percentile drawdown depth and the mean depth of
    // the tail at or below it, per series. Same one-window + one-agg
    // plan as eod_var_cvar over the shared drawdown series.
    "eod_cdar" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      withDd(s, dir)
        .withColumn("dar5", Eod.valueAtRisk(col("dd"), 0.05).over(wSym))
        .groupBy(col("event_type"))
        .agg(round(min(col("dar5")), 6).as("dar_5"),
          round(Eod.cvarGivenVar(col("dd"), col("dar5")), 6).as("cdar_5"))
    }),
    "eod_omega" -> ((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .groupBy(col("event_type"))
        .agg((round(Eod.omegaRatio(col("ret"), rfPeriodic), 6) + lit(0.0))
          .as("omega"))),
    // Kelly criterion (op 180, Thorp's continuous approximation):
    // f* = μ/σ² of periodic returns — the growth-optimal leverage —
    // plus the half-Kelly practitioners actually run. One agg.
    "eod_kelly" -> ((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .groupBy(col("event_type"))
        .agg((round(avg(col("ret")) / var_samp(col("ret")), 6) + lit(0.0))
          .as("kelly"),
          (round(avg(col("ret")) / var_samp(col("ret")) / 2.0, 6) + lit(0.0))
            .as("half_kelly"))),
    // Tail ratio + gain-to-pain (op 157): right/left tail magnitudes
    // via interpolated quantiles (sorting, not summing — engine-exact
    // on identical ret doubles) and Schwager's GPR on 1e-6-quantized
    // integer sums (order-free, the variance-ratio convention).
    "eod_tail_gain" -> ((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
        .groupBy(col("event_type"))
        // r14: both tail quantiles from one percentile buffer (same
        // R-7 values as Eod.tailRatio's two scalar calls).
        .agg(percentile(col("ret"), array(lit(0.95), lit(0.05))).as("_t2"),
          round(Eod.gainToPain(col("q")), 6).as("gain_to_pain"))
        .select(col("event_type"),
          round(safeDiv(abs(element_at(col("_t2"), 1)),
            abs(element_at(col("_t2"), 2))), 6).as("tail_ratio"),
          col("gain_to_pain"))),
    // Two-pass central moments: mean via per-asset window, deviations
    // aggregated — no raw-moment cancellation (see skewnessFromDev).
    "eod_skew_kurt" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("d", col("ret") - avg(col("ret")).over(wSym))
        .groupBy(col("event_type"))
        .agg(round(Eod.skewnessFromDev(col("d")), 6).as("skew"),
          round(Eod.excessKurtosisFromDev(col("d")), 6).as("kurt_excess"))
    }),
    // Jarque–Bera normality test (op 271; Jarque/Bera 1980): are the
    // returns even Gaussian — JB = n/6·(S² + K²/4) on the op-105
    // central-moment pass, rejecting normality at the χ²(2) 95%
    // critical value. The hypothesis-test companion to eod_skew_kurt
    // (same two-pass plan: mean via per-asset window, deviations
    // aggregated — no raw-moment cancellation). JB is formed from the
    // 1e-6-QUANTIZED moments: the n/6 factor amplifies the engines'
    // ~1e-12 avg(d^k) accumulation jitter past the 1e-6 output grid
    // (measured: 6.9e7 JB differed in the 6th decimal), while the
    // quantized moments hash-match exactly — so both engines square
    // the identical doubles.
    "eod_jarque_bera" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      val crit = 5.991464547107979 // qchisq(0.95, 2), published value
      val a = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("d", col("ret") - avg(col("ret")).over(wSym))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (round(Eod.skewnessFromDev(col("d")), 6) + lit(0.0)).as("sk"),
          (round(Eod.excessKurtosisFromDev(col("d")), 6) + lit(0.0)).as("ku"))
      a.withColumn("jbs", col("n").cast("double") / 6.0 *
          (col("sk") * col("sk") + col("ku") * col("ku") / 4.0))
        .select(col("event_type"), col("n"),
          col("sk").as("skew"), col("ku").as("kurt_excess"),
          round(col("jbs"), 6).as("jb"),
          (col("jbs") > crit).as("reject"))
    }),
    // Cornish–Fisher modified VaR (op 272; Cornish/Fisher 1938, the
    // "mVaR" of hedge-fund risk reports): the Gaussian 5% quantile
    // z adjusted for the sample's skew and excess kurtosis —
    // z_cf = z + (z²−1)S/6 + (z³−3z)K/24 − (2z³−5z)S²/36, then
    // mVaR = μ + z_cf·σ (sample σ). Complements op 103's historical
    // VaR: same tail, parametric-with-shape instead of empirical.
    // One window + one agg, the eod_skew_kurt pass plus stddev_samp.
    "eod_cornish_fisher" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      val z = -1.6448536269514722 // qnorm(0.05), published value
      val a = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("d", col("ret") - avg(col("ret")).over(wSym))
        .groupBy(col("event_type"))
        .agg(avg(col("ret")).as("mu"),
          stddev_samp(col("ret")).as("sd"),
          Eod.skewnessFromDev(col("d")).as("sk"),
          Eod.excessKurtosisFromDev(col("d")).as("ku"))
      val zcf = lit(z) + lit(z * z - 1.0) * col("sk") / 6.0 +
        lit(z * z * z - 3.0 * z) * col("ku") / 24.0 -
        lit(2.0 * z * z * z - 5.0 * z) * col("sk") * col("sk") / 36.0
      a.withColumn("zcf", zcf)
        .select(col("event_type"),
          (round(col("zcf"), 6) + lit(0.0)).as("z_cf"),
          (round(col("mu") + col("zcf") * col("sd"), 6) + lit(0.0))
            .as("mvar_5"))
    }),
    // Mann–Kendall trend test (op 273; Mann 1945/Kendall 1975) on the
    // DAILY CLOSE series: S = Σ_{i<j} sgn(x_j − x_i), no-tie variance
    // n(n−1)(2n+5)/18, continuity-corrected Z, two-sided 5% verdict.
    // Scale shape: the day-grain compaction (arg-max close per
    // (series, day)) is the only full-data pass — the O(n²) pairing
    // runs on the BOUNDED daily table (n = calendar days, not rows;
    // 30 here, 365/year at scale), self-joined per series key. The
    // close is an order-pinned single element (max_by, no float
    // summation), so pair signs are engine-exact.
    "eod_mann_kendall" -> ((s, dir) => {
      val zcrit = 1.959963984540054 // qnorm(0.975), published value
      val d = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(max_by(col("value"), col("ts")).as("close"))
      val x = d.withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
        .select(col("event_type"), col("rn"), col("close"))
      val p = x.as("a").join(x.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.rn") < col("b.rn"))
        .select(col("a.event_type").as("event_type"),
          when(col("b.close") > col("a.close"), 1L)
            .when(col("b.close") < col("a.close"), -1L)
            .otherwise(0L).as("sg"))
      val nD = col("n_days").cast("double")
      val varS = nD * (nD - 1.0) * (nD * 2.0 + 5.0) / 18.0
      val sD = col("s_stat").cast("double")
      val zS = when(col("s_stat") > 0, (sD - 1.0) / sqrt(varS))
        .when(col("s_stat") < 0, (sD + 1.0) / sqrt(varS))
        .otherwise(lit(0.0))
      p.groupBy(col("event_type")).agg(sum(col("sg")).as("s_stat"))
        .join(d.groupBy(col("event_type")).agg(count(lit(1)).as("n_days")),
          "event_type")
        .withColumn("z", zS)
        .select(col("event_type"), col("n_days"), col("s_stat"),
          (round(col("z"), 6) + lit(0.0)).as("z_stat"),
          when(col("z") > zcrit, "up").when(col("z") < -zcrit, "down")
            .otherwise("none").as("trend"))
    }),
    // CUSUM change-point statistics (op 284; Page 1954): has the mean
    // of the return process SHIFTED — the recursive
    // S_t = max(0, S_{t−1} + (x_t − μ)) re-expressed in its
    // prefix-sum closed form S⁺_t = P_t − min(0, min_{i≤t} P_i) (and
    // the mirrored S⁻) where P is the ordered cumulative sum of
    // centered returns and the 0 term anchors the EMPTY prefix P₀ —
    // so the whole statistic is two shared-sort cumulative windows
    // instead of a sequential recursion. Both engines
    // accumulate P in the same pinned (ts, event_id) order (the
    // eod_rolling precedent). Breach threshold h = 5σ.
    "eod_cusum" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      val cum = wT.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Centered returns AND the 5σ threshold are quantized to the 1e-6
      // grid BEFORE the cumulative windows (streaming_cusum convention):
      // the Page statistic and every breach compare are then pure long
      // arithmetic, immune to the cross-engine last-ulp jitter of the
      // unordered avg/stddev_samp aggregates that a float threshold
      // would amplify into differing breach counts on a knife-edge row.
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("sdq", floor(stddev_samp(col("ret")).over(wSym) * 5e6
          + 0.5).cast("long"))
        .withColumn("dq", floor((col("ret") - avg(col("ret")).over(wSym))
          * 1e6 + 0.5).cast("long"))
        .withColumn("p", sum(col("dq")).over(cum))
        .withColumn("cpos", col("p") - least(min(col("p")).over(cum), lit(0L)))
        .withColumn("cneg", greatest(max(col("p")).over(cum), lit(0L)) - col("p"))
      r.groupBy(col("event_type"))
        .agg(round(max(col("cpos")) / 1e6, 6).as("max_cusum_pos"),
          round(max(col("cneg")) / 1e6, 6).as("max_cusum_neg"),
          sum(when(col("cpos") > col("sdq"), 1L).otherwise(0L))
            .as("n_breach_pos"),
          sum(when(col("cneg") > col("sdq"), 1L).otherwise(0L))
            .as("n_breach_neg"),
          round(min(col("sdq")) / 1e6, 6).as("threshold"))
    }),
    // Newey–West long-run variance (op 285; Newey/West 1987): the
    // autocorrelation-robust σ²_NW = γ₀ + 2Σ_{l≤5}(1−l/6)γ_l with
    // Bartlett weights, and the mean-return t-stat under both the
    // iid and the NW variance — the inference companion to op 127's
    // ACF (same one-window + lag-columns + one-agg plan). Ratios and
    // t-stats are O(1) quantities, so the 1e-6 round grid sits far
    // above the engines' accumulation jitter.
    "eod_newey_west" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      val base = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("d", col("ret") - avg(col("ret")).over(wSym))
      val lagged = base.select(
        Seq(col("event_type"), col("ret"), col("d")) ++
          (1 to 5).map(l => lag(col("d"), l).over(wT).as(s"l$l")): _*)
      val aggs = Seq(avg(col("ret")).as("mu"),
        sum(col("d") * col("d")).as("g0")) ++
        (1 to 5).map(l => sum(col("d") * col(s"l$l")).as(s"g$l"))
      val a = lagged.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), aggs: _*)
      val nD = col("n").cast("double")
      def g(l: Int) = col(s"g$l") / nD
      val s2 = g(0) + (1 to 5).map(l =>
        g(l) * (2.0 * (1.0 - l / 6.0))).reduce(_ + _)
      a.select(col("event_type"), col("n"),
          round(s2 / g(0), 6).as("nw_ratio"),
          round(col("mu") / sqrt(g(0) / nD), 6).as("tstat_iid"),
          (round(when(s2 > 0, col("mu") / sqrt(s2 / nD)), 6) + lit(0.0))
            .as("tstat_nw"))
    }),
    // Circular-block-bootstrap Sharpe confidence interval (op 303;
    // Künsch 1989 / Politis–Romano): B = 60 replicates of each
    // series, drawn as length-50 circular blocks whose starts are
    // md5-derived (the op-77 determinism convention — same corpus →
    // same resample on ANY engine/partitioning, which is what lets a
    // SQL oracle replay a "random" bootstrap exactly); per-replicate
    // annualized Sharpe, R-7 5%/95% quantiles as the CI around the
    // full-series point estimate. Block length preserves the serial
    // dependence a plain iid bootstrap destroys.
    //
    // Scale shape: a block's Σret/Σret² over circular range
    // [start+1, start+len] is a DIFFERENCE OF PREFIX SUMS, so the
    // resample index is ≤3 prefix lookups per block (start, end,
    // wrap) — B·n/L·3 join rows instead of the naive B·n per-draw
    // explode (16× fewer; the rewrite took the query 7.3→~1.5 s at
    // sf0.1). Returns are quantized to the op-268 1e-6 grid so the
    // prefix sums are exact integers — replicate Sharpes are then
    // identical on any engine/partitioning by construction, with no
    // float-summation-order hazard between the engine's running
    // window and the oracle's. Σsq is a long; Σsq² rides in
    // decimal(38,0) (hugeint in the oracle) because a near-zero
    // price crossing makes |ret| ~ 1e4 → sq² ~ 1e20 > 2^63.
    // The prefix relation is localCheckpointed once (the Lloyd
    // idiom) because the totals agg and the lookup join both read it.
    // No collect, no per-replicate driver loop.
    "eod_bootstrap_sharpe" -> ((s, dir) => {
      val B = 60; val L = 50
      val wP = wT.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val px = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("sq", floor(col("ret") * 1e6 + 0.5).cast("long"))
        .withColumn("rn", row_number().over(wT).cast("long"))
        .withColumn("ps", sum(col("sq")).over(wP))
        .withColumn("qs", sum(col("sq").cast("decimal(19,0)") *
          col("sq").cast("decimal(19,0)")).over(wP))
        .select(col("event_type"), col("rn"), col("ps"), col("qs"))
        .localCheckpoint()
      val tot = px.groupBy(col("event_type")).agg(
        max(col("rn")).as("m"),
        max_by(col("ps"), col("rn")).as("tps"),
        max_by(col("qs"), col("rn")).as("tqs"))
      val blocks = tot.select(col("event_type"), col("m"))
        .withColumn("b", explode(sequence(lit(1), lit(B))))
        .withColumn("j", explode(sequence(lit(0),
          ceil(col("m").cast("double") / L).cast("int") - 1)))
        .withColumn("strt",
          conv(substring(md5(concat_ws("|", col("event_type"), col("b"),
            col("j"))), 1, 8), 16, 10).cast("long") % col("m"))
        .withColumn("len",
          least(lit(L.toLong), col("m") - col("j").cast("long") * L))
      val lkT = "array<struct<pos:bigint,sgn:bigint>>"
      val lk = blocks.select(col("event_type"), col("b"), col("m"),
          explode(concat(
            array(
              struct(col("strt").as("pos"), lit(-1L).as("sgn")),
              struct(least(col("strt") + col("len"), col("m")).as("pos"),
                lit(1L).as("sgn"))),
            when(col("strt") + col("len") > col("m"),
              array(struct((col("strt") + col("len") - col("m")).as("pos"),
                lit(1L).as("sgn"))))
              .otherwise(array().cast(lkT)) // empty, NOT null: concat(x, null) = null
              .cast(lkT))).as("lk"))
        .select(col("event_type"), col("b"), col("m"),
          col("lk.pos").as("rn"), col("lk.sgn").as("sgn"))
      val sq252 = math.sqrt(252.0)
      // sr/qr are exact 1e-6/1e-12-unit longs; identical double
      // algebra on both engines from identical integers.
      def sharpeU(df: DataFrame) = {
        val nD = col("n").cast("double")
        val srd = col("sr").cast("double") / lit(1e6)
        val qrd = col("qr").cast("double") / lit(1e12)
        df.withColumn("sharpe",
          (srd / nD) / sqrt((qrd - srd * srd / nD) / (nD - 1.0)) * sq252)
      }
      val reps = sharpeU(lk
        .join(px, Seq("event_type", "rn"), "left") // rn=0 → P(0)=0
        .groupBy(col("event_type"), col("b"))
        .agg(max(col("m")).as("n"),
          sum(col("sgn") * coalesce(col("ps"), lit(0L))).as("sr"),
          sum(col("sgn") * coalesce(col("qs"),
            lit(0).cast("decimal(38,0)"))).as("qr")))
      val ci = reps.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_boot"),
        graft.functions.Stats.quantile(col("sharpe"), 0.05).as("lo"),
        graft.functions.Stats.quantile(col("sharpe"), 0.95).as("hi"))
      sharpeU(tot.select(col("event_type"), col("m").as("n"),
          col("tps").as("sr"), col("tqs").as("qr")))
        .join(ci, "event_type")
        .select(col("event_type"), col("n_boot"),
          round(col("sharpe"), 6).as("sharpe_ann"),
          round(col("lo"), 6).as("ci_lo"),
          round(col("hi"), 6).as("ci_hi"))
    }),
    // Dickey–Fuller unit-root test (op 287; Dickey/Fuller 1979): does
    // ln(price) mean-revert or random-walk — OLS of Δy on (1, y_{t−1})
    // in the closed 2-regressor form, one lag pass + one agg of sums
    // (the same shuffle every series op shares). The DF t-stat is
    // non-Normal, so the verdict compares the MacKinnon 5%
    // constant-case critical value −2.86; half-life −ln2/ln(1+ρ̂)
    // only for mean-reverting fits (ρ̂∈(−1,0)), rounded coarse (2dp)
    // because d(hl)/dρ ≈ ln2/ρ² amplifies sum jitter.
    "eod_adf" -> ((s, dir) => {
      // value > 0 guard (eod_k_ratio convention): sf0.1+ plants
      // zero-priced bad ticks; ln(0) throws in DuckDB and yields null in
      // Spark, silently corrupting the count(*)/sum-mix OLS moments.
      val y = events(s, dir).where(col("value") > 0)
        .withColumn("y", log(col("value")))
        .withColumn("x", lag(col("y"), 1).over(wT))
        .where(col("x").isNotNull)
        .withColumn("dy", col("y") - col("x"))
      val a = y.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("dy")).as("sxy"),
        sum(col("dy") * col("dy")).as("syy"))
      val nD = col("n").cast("double")
      val cxx = col("sxx") - col("sx") * col("sx") / nD
      val cxy = col("sxy") - col("sx") * col("sy") / nD
      val cyy = col("syy") - col("sy") * col("sy") / nD
      val rho = cxy / cxx
      val s2 = (cyy - rho * cxy) / (nD - 2.0)
      val t = rho / sqrt(s2 / cxx)
      a.select(col("event_type"), col("n"),
          round(rho, 6).as("rho"),
          round(t, 6).as("adf_tstat"),
          (round(when(rho < 0.0 && rho > -1.0,
            lit(-0.6931471805599453) / log(lit(1.0) + rho)), 2) + lit(0.0))
            .as("half_life"),
          when(round(t, 6) < -2.86, "stationary").otherwise("unit_root")
            .as("verdict"))
    }),
    // Engle–Granger cointegration vs the 'view' benchmark (op 288;
    // Engle/Granger 1987): stage 1 regresses ln p_a on ln p_b over the
    // rn-aligned pair (the op-107 pairing shape — one window pass for
    // rn, equi-join on rn), stage 2 runs the no-constant DF test on
    // the stage-1 residuals. The 4-row OLS-parameter table broadcasts
    // back onto the pair rows; both engines form the residual with the
    // IDENTICAL centered parenthesization (ya−m̄a) − β(yb−m̄b). Verdict
    // against the 2-variable EG 5% critical value −3.34 (MacKinnon).
    "eod_cointegration" -> ((s, dir) => {
      // value > 0 guard BEFORE rn (eod_k_ratio convention) so the
      // rn-alignment of the pair join is identical on both engines and
      // ln never sees a planted zero-priced tick.
      val p = events(s, dir).where(col("value") > 0)
        .withColumn("rn", row_number().over(wT))
        .withColumn("y", log(col("value")))
      val bench = p.where(col("event_type") === "view")
        .select(col("rn"), col("y").as("yb"))
      val pair = p.where(col("event_type") =!= "view")
        .select(col("event_type").as("pair_id"), col("rn"), col("y").as("ya"))
        .join(bench, "rn")
      val ols = pair.groupBy(col("pair_id")).agg(
        count(lit(1)).as("n"),
        sum(col("ya")).as("sa"), sum(col("yb")).as("sb"),
        sum(col("ya") * col("yb")).as("sab"),
        sum(col("yb") * col("yb")).as("sbb"))
      val nD0 = col("n").cast("double")
      val params = ols.select(col("pair_id"), col("n"),
        ((col("sab") - col("sa") * col("sb") / nD0) /
          (col("sbb") - col("sb") * col("sb") / nD0)).as("beta"),
        (col("sa") / nD0).as("ma"), (col("sb") / nD0).as("mb"))
      val wp = Window.partitionBy(col("pair_id")).orderBy(col("rn"))
      val resid = pair.join(broadcast(params), "pair_id")
        .withColumn("e",
          (col("ya") - col("ma")) - col("beta") * (col("yb") - col("mb")))
        .withColumn("el", lag(col("e"), 1).over(wp))
        .where(col("el").isNotNull)
      val a = resid.groupBy(col("pair_id")).agg(
        max(col("beta")).as("beta"), max(col("n")).as("n"),
        count(lit(1)).as("m"),
        sum(col("el") * (col("e") - col("el"))).as("sed"),
        sum(col("el") * col("el")).as("see"),
        sum((col("e") - col("el")) * (col("e") - col("el"))).as("sdd"))
      val rho = col("sed") / col("see")
      val s2 = (col("sdd") - rho * col("sed")) /
        (col("m").cast("double") - 1.0)
      val t = rho / sqrt(s2 / col("see"))
      a.select(col("pair_id"), col("n"),
          round(col("beta"), 6).as("beta"),
          round(rho, 6).as("rho_resid"),
          round(t, 6).as("eg_tstat"),
          when(round(t, 6) < -3.34, 1L).otherwise(0L).as("cointegrated"))
    }),
    "eod_ewma_vol" -> ((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .select(col("event_type"), col("event_id"),
          round(Eod.ewmaVolatility(col("ret"), wT, 60), 6).as("ewma_vol"))),
    // Volatility-targeted position sizing (op 397; the risk-parity /
    // managed-vol overlay every systematic book runs): weight_t =
    // min(2, σ_target/σ̂_{t−1}) from the op-106 EWMA vol (the t−1 lag
    // keeps it tradable — no look-ahead), scaled return w·r. Weights
    // quantize to q6 longs off the ROUNDED vol (the op-106 output
    // grid, identical on both engines), the scaled series lives on
    // the exact 1e-12 integer grid, and the realized-vol reduction
    // comes from exact moments. One extra lag over the op-106 window.
    "eod_vol_targeting" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("vol_q", round(Eod.ewmaVolatility(col("ret"), wT, 60), 6))
        .withColumn("qr", floor(col("ret") * 1e6 + 0.5).cast("long"))
        .withColumn("vol_lag", lag(col("vol_q"), 1).over(wT))
        .where(col("vol_lag").isNotNull && col("vol_lag") > 0)
        .withColumn("wq",
          floor(least(lit(2.0), lit(0.01) / col("vol_lag")) * 1e6 + 0.5)
            .cast("long"))
        .withColumn("qs", col("wq") * col("qr"))
      val nD = count(lit(1)).cast("double")
      r.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (floor(sum(col("wq")).cast("double") / nD + 0.5) / 1e6)
            .as("avg_weight"),
          (floor(sum(dec(col("qs"))).cast("double") / nD / 1e6 + 0.5) / 1e6)
            .as("mean_scaled_ret"),
          sum(dec(col("qs"))).as("_sq"),
          sum(dec(col("qs")) * dec(col("qs"))).as("_sq2"))
        .select(col("event_type"), col("n"), col("avg_weight"),
          col("mean_scaled_ret"),
          (round(sqrt(greatest(
            (col("n").cast("double") * col("_sq2").cast("double")
              - col("_sq").cast("double") * col("_sq").cast("double"))
              / (col("n").cast("double") * (col("n") - 1).cast("double")),
            lit(0.0))) / 1e12, 6) + lit(0.0)).as("scaled_vol"))
    }),
    // GARCH(1,1) filtered conditional vol (op 295; Bollerslev 1986):
    // the k-truncated closed form over the trailing 60 returns ending
    // at t−1, pinned (ω, α, β) = (2e-8, 0.08, 0.90) — ω scaled so the
    // long-run variance ω/(1−α−β) = 1e-6 matches the series' return
    // scale. Same collect_list + native codegen fold as op 106; rows
    // with no prior return (each series' first) are dropped to match
    // the oracle's inner self-join frame.
    "eod_garch_filter" -> ((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("garch", Eod.garchVolatility(col("ret"), wT, 60,
          omega = 2.0e-8, alpha = 0.08, beta = 0.90))
        .withColumn("rn", row_number().over(wT))
        .where(col("rn") >= 2) // the frame is built BEFORE this filter
        .select(col("event_type"), col("event_id"),
          round(col("garch"), 8).as("garch_vol"))),
    // Holt linear-trend smoothing + 5-step forecast (op 343; Holt 1957
    // — the forecasting primitive the smoothing family lacked): the
    // coupled (level, trend) recursion has no geometric closed form, so
    // it runs as a FIXED-WINDOW LINEAR FILTER — Eod.holtWeights runs
    // the recursion on unit impulses ONCE driver-side and both engines
    // dot the trailing 60 prices with the same round-trip weight
    // literals. Each term quantizes to a 1e-9 long BEFORE summing
    // (order-free; the op-342 convention), outputs on the q6/q8 floor
    // grids. Full-window rows only (rn ≥ 60): truncating the spin-up
    // keeps ONE weight vector instead of a triangular m×j table.
    // Holt–Winters additive-seasonal smoothing + season-aligned 5-step
    // forecast (op 348; Winters 1960 — op 343 plus a period-5 seasonal
    // state): the same driver-computed linear-filter contract with a
    // THIRD weight vector (the final seasonal slot, which a horizon-s
    // forecast uses directly: ŷ = l + 5b + s_final). Same per-term
    // 1e-9 quantization, q6/q8 floor grids, full-window rows only.
    "eod_holt_winters" -> ((s, dir) => {
      val m = 60
      val (wl, wb, ws) = Eod.holtWintersWeights(m, 5, 0.3, 0.1, 0.2)
      def qsum(wsv: Array[Double]) =
        graft.expressions.QuantizedDot(col("xs"), wsv, grid = 1e9)
      def q(c: Column, g: Double) = floor(c * g + lit(0.5)) / g
      val ld = col("lq").cast("double") / 1e9
      val bd = col("bq").cast("double") / 1e9
      val sd_ = col("sq").cast("double") / 1e9
      events(s, dir)
        .withColumn("xs",
          collect_list(col("value")).over(wT.rowsBetween(-(m - 1), 0)))
        .withColumn("rn", row_number().over(wT))
        .where(col("rn") >= m) // the frame is built BEFORE this filter
        .withColumn("lq", qsum(wl))
        .withColumn("bq", qsum(wb))
        .withColumn("sq", qsum(ws))
        .select(col("event_type"), col("event_id"),
          q(ld, 1e6).as("level"),
          q(bd, 1e8).as("trend"),
          q(sd_, 1e6).as("seasonal"),
          q(ld + lit(5.0) * bd + sd_, 1e6).as("forecast_5"))
    }),
    "eod_holt" -> ((s, dir) => {
      val m = 60
      val (wl, wb) = Eod.holtWeights(m, 0.3, 0.1)
      def qsum(ws: Array[Double]) =
        graft.expressions.QuantizedDot(col("xs"), ws, grid = 1e9)
      def q(c: Column, g: Double) = floor(c * g + lit(0.5)) / g
      val ld = col("lq").cast("double") / 1e9
      val bd = col("bq").cast("double") / 1e9
      events(s, dir)
        .withColumn("xs",
          collect_list(col("value")).over(wT.rowsBetween(-(m - 1), 0)))
        .withColumn("rn", row_number().over(wT))
        .where(col("rn") >= m) // the frame is built BEFORE this filter
        .withColumn("lq", qsum(wl))
        .withColumn("bq", qsum(wb))
        .select(col("event_type"), col("event_id"),
          q(ld, 1e6).as("level"),
          q(bd, 1e8).as("trend"),
          q(ld + lit(5.0) * bd, 1e6).as("forecast_5"))
    }),
    // Local-level Kalman filter (op 362; Kalman 1960 — the state-space
    // member of the op-343 linear-filter family): the gain sequence is
    // a deterministic Riccati recursion in t alone, so the filtered
    // level over the trailing 60 prices is a QuantizedDot with
    // driver-computed weights (q = 0.01, r = 1.0 literals); a second
    // dot with the (m−1)-step weights gives the one-step innovation
    // x_t − l_{t−1} — the live "surprise" the filter exists to
    // extract. Same per-term 1e-9 quantization / VALUES parity; spec
    // replays the ACTUAL Riccati recursion per window.
    "eod_kalman" -> ((s, dir) => {
      val m = 60
      val (wl, wp) = Eod.kalmanWeights(m, 0.01, 1.0)
      def qsum(ws: Array[Double]) =
        graft.expressions.QuantizedDot(col("xs"), ws, grid = 1e9)
      def q(c: Column, g: Double) = floor(c * g + lit(0.5)) / g
      val ld = col("lq").cast("double") / 1e9
      val pd = col("pq").cast("double") / 1e9
      events(s, dir)
        .withColumn("xs",
          collect_list(col("value")).over(wT.rowsBetween(-(m - 1), 0)))
        .withColumn("rn", row_number().over(wT))
        .where(col("rn") >= m) // the frame is built BEFORE this filter
        .withColumn("lq", qsum(wl))
        .withColumn("pq", qsum(wp))
        .select(col("event_type"), col("event_id"),
          q(ld, 1e6).as("kalman_level"),
          q(col("value") - pd, 1e6).as("innovation"))
    }),
    // Forecast backtest (op 352; the op-343 eval harness — what
    // ann_recall is to the ANN index, this is to the smoother): pair
    // each q6-floored 5-step Holt forecast with the REALIZED price 5
    // rows ahead (lead over the same window), quantize each error to
    // a 1e-6 long so MAE/RMSE/bias accumulate exactly (squares in
    // decimal(38,0) against the e²·n growth), one keyed agg per
    // series. "Is the smoother worth shipping" as a driver-checked
    // number.
    "eod_forecast_eval" -> ((s, dir) => {
      val m = 60
      val (wl, wb) = Eod.holtWeights(m, 0.3, 0.1)
      def qsum(ws: Array[Double]) =
        graft.expressions.QuantizedDot(col("xs"), ws, grid = 1e9)
      val ld = col("lq").cast("double") / 1e9
      val bd = col("bq").cast("double") / 1e9
      val f5 = floor((ld + lit(5.0) * bd) * 1e6 + lit(0.5)) / 1e6
      val base = events(s, dir)
        .withColumn("xs",
          collect_list(col("value")).over(wT.rowsBetween(-(m - 1), 0)))
        .withColumn("rn", row_number().over(wT))
        .withColumn("realized", lead(col("value"), 5).over(wT))
        .where(col("rn") >= m && col("realized").isNotNull)
        .withColumn("lq", qsum(wl))
        .withColumn("bq", qsum(wb))
        .withColumn("eq",
          floor((col("realized") - f5) * 1e6 + lit(0.5)).cast("long"))
      base.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(abs(col("eq"))).as("_sae"),
          sum((col("eq").cast("decimal(38,0)") * col("eq"))).as("_sse"),
          sum(col("eq")).as("_se"))
        .select(col("event_type"), col("n"),
          (floor(col("_sae").cast("double") / 1e6 / col("n") * 1e6
            + lit(0.5)) / 1e6).as("mae"),
          (floor(sqrt(col("_sse").cast("double") / 1e12 / col("n")) * 1e6
            + lit(0.5)) / 1e6).as("rmse"),
          (floor(col("_se").cast("double") / 1e6 / col("n") * 1e6
            + lit(0.5)) / 1e6).as("bias"))
    }),
    // Rolling beta of each non-benchmark return series on the 'view'
    // benchmark series, rn-paired, trailing 60 pairs. The window is
    // partitioned by the pair key — four real pairs here, N pairs at
    // scale — so no single-partition WindowExec anywhere in the suite.
    // `+ 0.0` squashes IEEE −0.0 out of round() (Spark and DuckDB can
    // disagree on the sign of a rounded zero, which flips the hash).
    // Eod.rollingBeta: beta = (nΣxy − ΣxΣy)/(nΣyy − ΣyΣy) from O(1)
    // per-row frame-difference sums (a frame-bounded covar/var
    // re-aggregates all 60 rows per row — measured 4.6 s vs siblings'
    // 1.8 s). The oracle replays the same sums as cumulative sums
    // minus lag(cum, 60) (prefixFrameSql).
    "eod_rolling_beta" -> ((s, dir) =>
      pairedReturnsVsView(s, dir).select(col("pair_id"), col("rn"),
        (round(Eod.rollingBeta(col("ra"), col("rb"), wPair, 60), 4)
          + lit(0.0)).as("beta"))),
    // Eod.rollingCorr, the same paired frame sums plus Σx²:
    // r = (nΣxy−ΣxΣy)/√((nΣxx−Σx²)(nΣyy−Σy²)).
    "eod_rolling_corr" -> ((s, dir) =>
      pairedReturnsVsView(s, dir).select(col("pair_id"), col("rn"),
        (round(Eod.rollingCorr(col("ra"), col("rb"), wPair, 60), 4)
          + lit(0.0)).as("roll_corr"))),
    // Full-sample CAPM vs the 'view' benchmark (op 133, ffn-lineage
    // alpha/beta): ONE hash agg over the rn-paired returns emits beta,
    // annualized Jensen's alpha, R², and tracking error per pair.
    "eod_capm" -> ((s, dir) =>
      pairedReturnsVsView(s, dir)
        .groupBy(col("pair_id"))
        .agg(
          (round(Eod.capmBeta(col("ra"), col("rb")), 6) + lit(0.0)).as("beta"),
          (round(Eod.capmAlpha(col("ra"), col("rb")) * Eod.TradingDaysPerYear,
            6) + lit(0.0)).as("alpha_ann"),
          (round(Eod.capmR2(col("ra"), col("rb")), 6) + lit(0.0)).as("r2"),
          (round(Eod.trackingError(col("ra"), col("rb")), 6) + lit(0.0))
            .as("tracking_error"))),
    // Up/down capture + win rate (op 134): arithmetic capture (mean-
    // based — exact under any agg order, unlike compounded capture),
    // same single paired hash agg shape as eod_capm.
    "eod_capture" -> ((s, dir) =>
      pairedReturnsVsView(s, dir)
        .groupBy(col("pair_id"))
        .agg(
          (round(Eod.upCapture(col("ra"), col("rb")), 6) + lit(0.0))
            .as("up_capture"),
          (round(Eod.downCapture(col("ra"), col("rb")), 6) + lit(0.0))
            .as("down_capture"),
          (round(Eod.winRate(col("ra")), 6) + lit(0.0)).as("win_rate"))),
    // Treynor ratio + M² (op 181, the beta- and vol-adjusted pair
    // beside Sharpe/alpha): Treynor = annualized mean return over CAPM
    // beta (systematic-risk denominator); Modigliani M² = the asset's
    // Sharpe re-levered to the benchmark's annualized vol — both rf=0,
    // the eod_capm convention. Same single paired hash agg as op 133.
    "eod_treynor_m2" -> ((s, dir) =>
      pairedReturnsVsView(s, dir)
        .groupBy(col("pair_id"))
        .agg(
          (round(avg(col("ra")) * Eod.TradingDaysPerYear /
            Eod.capmBeta(col("ra"), col("rb")), 6) + lit(0.0))
            .as("treynor_ann"),
          (round(avg(col("ra")) / stddev_samp(col("ra"))
            * stddev_samp(col("rb")) * Eod.TradingDaysPerYear, 6) + lit(0.0))
            .as("m2_ann"))),
    // Jobson–Korkie/Memmel Sharpe-difference test (op 204 — "is this
    // fund's Sharpe REALLY higher than the benchmark's?"): z =
    // (SRa − SRb)/√(θ/n), θ = 2(1−ρ) + ½(SRa² + SRb² − SRa·SRb(1+ρ²))
    // (Memmel 2003's correction of JK 1981). Per-period Sharpes
    // (annualization cancels in the ratio), one paired hash agg.
    "eod_sharpe_test" -> ((s, dir) =>
      pairedReturnsVsView(s, dir)
        .groupBy(col("pair_id"))
        .agg(count(lit(1)).as("n"),
          (avg(col("ra")) / stddev_samp(col("ra"))).as("sra"),
          (avg(col("rb")) / stddev_samp(col("rb"))).as("srb"),
          corr(col("ra"), col("rb")).as("rho"))
        .select(col("pair_id"), col("n"),
          (round(col("sra"), 6) + lit(0.0)).as("sr_a"),
          (round(col("srb"), 6) + lit(0.0)).as("sr_b"),
          (round((col("sra") - col("srb")) / sqrt(
            (lit(2.0) * (lit(1.0) - col("rho"))
              + lit(0.5) * (col("sra") * col("sra")
                + col("srb") * col("srb")
                - col("sra") * col("srb")
                  * (lit(1.0) + col("rho") * col("rho"))))
              / col("n")), 6) + lit(0.0)).as("z_stat"))),
    // Lo (2002) autocorrelation-adjusted Sharpe (op 209): the iid
    // √252 annualizer overstates the Sharpe of autocorrelated
    // series; the correct factor is q/√(q + 2Σ_{k<q}(q−k)ρ_k),
    // truncated at 5 lags (the op-127 ACF kernel — ρ≈0 beyond).
    // One window pass builds the lags, ONE hash agg composes the
    // statistic; the weighted ρ sum is left-associated identically
    // on both engines.
    "eod_sharpe_adj" -> ((s, dir) => {
      val lagged = withRet(s, dir).select(
        Seq(col("event_type"), col("ret")) ++
          (1 to 5).map(kk => lag(col("ret"), kk).over(wT).as(s"l$kk")): _*)
      val rhoSum = (1 to 5).map(kk =>
        lit((NP - kk).toDouble) * corr(col("ret"), col(s"l$kk")))
        .reduce(_ + _)
      lagged.groupBy(col("event_type"))
        .agg(count(col("ret")).as("n"),
          (avg(col("ret") - lit(rfPeriodic)) /
            stddev_samp(col("ret") - lit(rfPeriodic))).as("srp"),
          rhoSum.as("rs"))
        .select(col("event_type"), col("n"),
          (round(col("srp") * lit(math.sqrt(252.0)), 6) + lit(0.0))
            .as("sharpe_iid"),
          (round(col("srp") * lit(252.0) /
            sqrt(lit(252.0) + lit(2.0) * col("rs")), 6) + lit(0.0))
            .as("sharpe_adj"))
    }),
    // Downside/upside beta (op 239; Bawa–Lindenberg): β conditioned
    // on the benchmark's sign — the asymmetry the single CAPM β
    // averages away (β⁻ ≫ β⁺ is the crash-exposure signature).
    // Returns quantize to 1e-6 longs, the condition tests the
    // QUANTIZED benchmark (engine-identical branch), product sums
    // through DECIMAL(19,0)², β as the same (nΣab − ΣaΣb)/(nΣbb −
    // ΣbΣb) double algebra. One paired hash agg.
    "eod_downside_capm" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val p = pairedReturnsVsView(s, dir)
        .withColumn("qa", floor(col("ra") * 1e6 + 0.5).cast("long"))
        .withColumn("qb", floor(col("rb") * 1e6 + 0.5).cast("long"))
      def side(cond: Column, tag: String) = Seq(
        sum(when(cond, 1L).otherwise(0L)).as(s"n_$tag"),
        sum(when(cond, col("qa"))).as(s"sa_$tag"),
        sum(when(cond, col("qb"))).as(s"sb_$tag"),
        sum(when(cond, dec(col("qa")) * dec(col("qb")))).as(s"sab_$tag"),
        sum(when(cond, dec(col("qb")) * dec(col("qb")))).as(s"sbb_$tag"))
      val aggs = side(col("qb") < 0, "dn") ++ side(col("qb") > 0, "up")
      def beta(tag: String) = {
        def d(c: String) = col(s"${c}_$tag").cast("double")
        (d("n") * d("sab") - d("sa") * d("sb")) /
          (d("n") * d("sbb") - d("sb") * d("sb"))
      }
      p.groupBy(col("pair_id")).agg(aggs.head, aggs.tail: _*)
        .select(col("pair_id"), col("n_dn"), col("n_up"),
          (round(beta("dn"), 6) + lit(0.0)).as("beta_down"),
          (round(beta("up"), 6) + lit(0.0)).as("beta_up"),
          (round(when(beta("up") =!= 0.0, beta("dn") / beta("up")), 6)
            + lit(0.0)).as("beta_ratio"))
    }),
    // Henriksson–Merton market timing (op 226; HM 1981): r_a = α +
    // β·r_b + γ·max(r_b, 0) — γ > 0 is timing skill (the manager
    // holds more beta in up markets). Closed-form 3-var OLS by
    // Cramer's rule on normal-equation sums: returns quantize to
    // 1e-6 longs, every product sum runs through DECIMAL(19,0)²
    // (exact), and the four 3×3 determinants are written with
    // IDENTICAL expansion order on both engines — so α/β/γ are the
    // same doubles. One paired hash agg per series.
    "eod_hm_timing" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val p = pairedReturnsVsView(s, dir)
        .withColumn("ya", floor(col("ra") * 1e6 + 0.5).cast("long"))
        .withColumn("x1", floor(col("rb") * 1e6 + 0.5).cast("long"))
        .withColumn("x2", greatest(floor(col("rb") * 1e6 + 0.5).cast("long"),
          lit(0L)))
      val a = p.groupBy(col("pair_id")).agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("ya")).as("sy"),
        sum(dec(col("x1")) * dec(col("x1"))).as("s11"),
        sum(dec(col("x1")) * dec(col("x2"))).as("s12"),
        sum(dec(col("x2")) * dec(col("x2"))).as("s22"),
        sum(dec(col("x1")) * dec(col("ya"))).as("s1y"),
        sum(dec(col("x2")) * dec(col("ya"))).as("s2y"))
      def d(c: String) = col(c).cast("double")
      val nD = d("n")
      val det = nD * (d("s11") * d("s22") - d("s12") * d("s12")) -
        d("s1") * (d("s1") * d("s22") - d("s12") * d("s2")) +
        d("s2") * (d("s1") * d("s12") - d("s11") * d("s2"))
      val detA = d("sy") * (d("s11") * d("s22") - d("s12") * d("s12")) -
        d("s1") * (d("s1y") * d("s22") - d("s12") * d("s2y")) +
        d("s2") * (d("s1y") * d("s12") - d("s11") * d("s2y"))
      val detB = nD * (d("s1y") * d("s22") - d("s12") * d("s2y")) -
        d("sy") * (d("s1") * d("s22") - d("s12") * d("s2")) +
        d("s2") * (d("s1") * d("s2y") - d("s1y") * d("s2"))
      val detG = nD * (d("s11") * d("s2y") - d("s1y") * d("s12")) -
        d("s1") * (d("s1") * d("s2y") - d("s1y") * d("s2")) +
        d("sy") * (d("s1") * d("s12") - d("s11") * d("s2"))
      // det = 0 (collinear x1/x2, e.g. a benchmark that never goes
      // negative) must null the coefficients, not ANSI-abort.
      a.select(col("pair_id"), col("n"),
          (round(when(det =!= 0.0, detA / det / 1e6), 9) + lit(0.0)).as("alpha"),
          (round(when(det =!= 0.0, detB / det), 6) + lit(0.0)).as("beta"),
          (round(when(det =!= 0.0, detG / det), 6) + lit(0.0)).as("gamma"))
    }),
    // Treynor–Mazuy market-timing regression (op 377; Treynor &
    // Mazuy 1966) — the QUADRATIC timing test beside op 249's
    // Henriksson–Merton option-payoff form: r_p = α + β·r_m +
    // γ·r_m², γ > 0 meaning exposure rises with the benchmark (the
    // convexity a timer's book shows). Same exact 3×3 Cramer
    // machinery as op 249, with x₂ = ⌊r_m²·1e6 + ½⌋ — the SQUARE
    // quantized directly (squaring the quantized x₁ would put 4th
    // powers of this corpus's 1e10-grid returns past DECIMAL(38));
    // r_m·r_m is one IEEE multiply, identical on both engines. In
    // these units ŷ/x̂₂ is already γ (both carry the same 1e6), so
    // no rescale. ONE keyed moment agg after the rn-pair window.
    "eod_treynor_mazuy" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val p = pairedReturnsVsView(s, dir)
        .withColumn("ya", floor(col("ra") * 1e6 + 0.5).cast("long"))
        .withColumn("x1", floor(col("rb") * 1e6 + 0.5).cast("long"))
        .withColumn("x2",
          floor(col("rb") * col("rb") * 1e6 + 0.5).cast("long"))
      val a = p.groupBy(col("pair_id")).agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(dec(col("x2"))).as("s2"),
        sum(col("ya")).as("sy"),
        sum(dec(col("x1")) * dec(col("x1"))).as("s11"),
        sum(dec(col("x1")) * dec(col("x2"))).as("s12"),
        sum(dec(col("x2")) * dec(col("x2"))).as("s22"),
        sum(dec(col("x1")) * dec(col("ya"))).as("s1y"),
        sum(dec(col("x2")) * dec(col("ya"))).as("s2y"))
      def d(c: String) = col(c).cast("double")
      val nD = d("n")
      val det = nD * (d("s11") * d("s22") - d("s12") * d("s12")) -
        d("s1") * (d("s1") * d("s22") - d("s12") * d("s2")) +
        d("s2") * (d("s1") * d("s12") - d("s11") * d("s2"))
      val detA = d("sy") * (d("s11") * d("s22") - d("s12") * d("s12")) -
        d("s1") * (d("s1y") * d("s22") - d("s12") * d("s2y")) +
        d("s2") * (d("s1y") * d("s12") - d("s11") * d("s2y"))
      val detB = nD * (d("s1y") * d("s22") - d("s12") * d("s2y")) -
        d("sy") * (d("s1") * d("s22") - d("s12") * d("s2")) +
        d("s2") * (d("s1") * d("s2y") - d("s1y") * d("s2"))
      val detG = nD * (d("s11") * d("s2y") - d("s1y") * d("s12")) -
        d("s1") * (d("s1") * d("s2y") - d("s1y") * d("s2")) +
        d("sy") * (d("s1") * d("s12") - d("s11") * d("s2"))
      a.select(col("pair_id"), col("n"),
          (round(when(det =!= 0.0, detA / det / 1e6), 9) + lit(0.0)).as("alpha"),
          (round(when(det =!= 0.0, detB / det), 6) + lit(0.0)).as("beta"),
          (round(when(det =!= 0.0, detG / det), 6) + lit(0.0))
            .as("gamma"))
    }),
    // Bias ratio (op 376; Abdulali 2006) — the return-smoothing
    // forensic: count of returns in [0, +σ] over 1 + count in
    // [−σ, 0); honest market returns sit near 1, smoothed/marked
    // books pile just above zero and score ≫ 1. σ comes from the
    // EXACT integer moments (n·Σq² − (Σq)² over n(n−1) as DECIMAL,
    // one IEEE sqrt on the same rational → identical double both
    // engines), then quantizes onto the 1e-6 grid so the band
    // membership tests are pure integer compares. Two keyed aggs +
    // one broadcast join of the k-row σ relation.
    "eod_bias_ratio" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val q = withRet(s, dir).where(col("ret").isNotNull)
        .select(col("event_type"),
          floor(col("ret") * 1e6 + 0.5).cast("long").as("qr"))
      val sig = q.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("qr")).as("sq"),
          sum(dec(col("qr")) * dec(col("qr"))).as("sq2"))
        .select(col("event_type"), col("n"),
          floor(sqrt(greatest(
            (col("n").cast("double") * col("sq2").cast("double")
              - col("sq").cast("double") * col("sq").cast("double"))
              / (col("n").cast("double") * (col("n") - 1).cast("double")),
            lit(0.0))) + 0.5).cast("long").as("qsig"))
      q.join(broadcast(sig), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(col("qsig")).as("_qs"),
          sum(when(col("qr") >= 0L && col("qr") <= col("qsig"), 1L)
            .otherwise(0L)).as("n_up_band"),
          sum(when(col("qr") >= -col("qsig") && col("qr") < 0L, 1L)
            .otherwise(0L)).as("n_dn_band"))
        .select(col("event_type"), col("n"),
          (col("_qs").cast("double") / 1e6).as("sigma"),
          col("n_up_band"), col("n_dn_band"),
          (floor(col("n_up_band").cast("double")
            / (lit(1.0) + col("n_dn_band").cast("double")) * 1e6 + 0.5)
            / 1e6).as("bias_ratio"))
    }),
    // Calendar extremes (op 210 — ffn's best_day/worst_day family):
    // best/worst single-tick return plus best/worst calendar-DAY
    // compound return (day eop via max_by(ts), the op-135 kernel;
    // the testdata spans one month, so day is the calendar grain
    // with real support). min/max only — order-independent, no sum
    // nondeterminism anywhere.
    "eod_extremes" -> ((s, dir) => {
      val tick = withRet(s, dir).groupBy(col("event_type"))
        .agg((round(max(col("ret")), 6) + lit(0.0)).as("best_tick"),
          (round(min(col("ret")), 6) + lit(0.0)).as("worst_tick"))
      val wD = Window.partitionBy(col("event_type"))
        .orderBy(col("yr"), col("mo"), col("dy"))
      val day = events(s, dir)
        .groupBy(col("event_type"), year(col("ts")).as("yr"),
          month(col("ts")).as("mo"), dayofmonth(col("ts")).as("dy"))
        .agg(max_by(col("value"), col("ts")).as("eop"))
        .select(col("event_type"),
          // safeDiv: a zero day-close (sf0.1+ bad ticks) must null
          // the return, not ANSI-abort — matches DuckDB x/0 → NULL.
          (graft.functions.safeDiv(col("eop"),
            lag(col("eop"), 1).over(wD)) - 1).as("dret"))
        .groupBy(col("event_type"))
        .agg((round(max(col("dret")), 6) + lit(0.0)).as("best_day"),
          (round(min(col("dret")), 6) + lit(0.0)).as("worst_day"))
      tick.join(day, "event_type")
    }),
    // Ljung–Box portmanteau test at lags 1..5 (op 182, the
    // significance companion to op 127's ACF): Q = n(n+2)·Σ ρ_k²/(n−k)
    // with ρ_k the pairwise lag-k correlation (the eod_acf kernel) and
    // n the non-null return count. One window pass builds the five
    // lagged columns, ONE hash agg composes the statistic — corr's
    // pairwise null-skip is identical on both engines.
    "eod_ljung_box" -> ((s, dir) => {
      val lagged = withRet(s, dir).select(
        Seq(col("event_type"), col("ret")) ++
          (1 to 5).map(kk => lag(col("ret"), kk).over(wT).as(s"l$kk")): _*)
      val nn = count(col("ret")).cast("double")
      val qSum = (1 to 5).map(kk =>
        pow(corr(col("ret"), col(s"l$kk")), 2) / (nn - kk)).reduce(_ + _)
      lagged.groupBy(col("event_type"))
        .agg(count(col("ret")).as("n_obs"),
          (round(nn * (nn + 2.0) * qSum, 6) + lit(0.0)).as("lb_q"))
    }),
    // Portfolio-level stats (op 151): the ffn end-use — CONSTRUCT a
    // portfolio from constituent series, then run the stats ON it.
    // Two equal-weight portfolios (all five series; 'core' excluding
    // the error series) from rn-aligned cross-sections (per-rn mean
    // return where the full membership is present). Stats run in LOG
    // space: this corpus' synthetic returns reach 2682× per step, so
    // a compounded value index overflows double (cum Σln ≈ 2·10⁴) —
    // total log return and log-drawdown (cumΣ − cummax(cumΣ)) stay
    // finite and are the standard heavy-tail-safe forms. One per-rn
    // agg (shuffles on rn), then one window pass over the TINY
    // per-portfolio relation, partitioned by port_id.
    "eod_portfolio" -> ((s, dir) => {
      val r = withRet(s, dir).withColumn("rn", row_number().over(wT))
        .where(col("ret").isNotNull)
        .select(col("event_type"), col("rn"), col("ret"))
      def port(id: String, members: Column, k: Int) =
        r.where(members)
          .groupBy(col("rn"))
          .agg(count(lit(1)).as("nm"), avg(col("ret")).as("pret"))
          .where(col("nm") === k)
          .select(lit(id).as("port_id"), col("rn"), col("pret"))
      val p = port("core", col("event_type") =!= "error", 4)
        .unionAll(port("ew", lit(true), 5))
      val wp = Window.partitionBy(col("port_id")).orderBy(col("rn"))
      val cum = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cl = sum(when(col("pret") + 1.0 > 0.0, log(col("pret") + 1.0)))
        .over(cum)
      p.withColumn("cl", cl)
        .withColumn("ddl", col("cl") - max(col("cl")).over(cum))
        .groupBy(col("port_id"))
        .agg(count(lit(1)).as("n_periods"),
          (round(avg(col("pret")) / stddev_samp(col("pret"))
            * lit(math.sqrt(252.0)), 6) + lit(0.0)).as("sharpe_ann"),
          (round(max_by(col("cl"), col("rn")), 6) + lit(0.0))
            .as("total_log_return"),
          (round(min(col("ddl")), 6) + lit(0.0)).as("max_drawdown_log"))
    }),
    // Weighted portfolio with a rebalance calendar (op 152, the real
    // ffn end-use: calc_stats on a weighted composite): a DECLARED
    // weight table (event_type → target weight, Σw = 1) broadcast
    // onto the rn-aligned cross-section; between rebalance dates the
    // weights DRIFT with asset returns — within each block the asset
    // leg's value is w·Π(1+r) ≡ exp(ln w + Σln(1+r)), and the
    // portfolio log-value is a log-sum-exp over legs (max-shifted:
    // this corpus' buy-and-hold cum Σln reaches ~2·10⁴, so the naive
    // Σ w·exp(cum) overflows double — LSE is the standard safe form).
    // Per-period composite log-return = Δ(lv) within block (block
    // start re-bases to ln Σw = 0), then the op-151 log-space summary
    // runs ON the composite. Two calendars: 21-row blocks ("monthly")
    // and never ("buyhold") — the drift math is identical, only blk
    // differs. Shapes at 100 TB: the weight table broadcasts (K
    // assets), everything else is keyed windows/aggs on (port, i) —
    // no single-partition window (WindowGuard-safe: partitions are
    // (port, series, blk) / (port, i) / (port, blk)).
    "eod_portfolio_weighted" -> ((s, dir) => {
      import s.implicits._
      val wdf = Seq(("click", 0.4), ("purchase", 0.3), ("signup", 0.2),
        ("view", 0.1)).toDF("event_type", "w")
      val f = withRet(s, dir).withColumn("rn", row_number().over(wT))
        .where(col("ret").isNotNull && col("event_type") =!= "error")
        .select(col("event_type"), col("rn"), col("ret"))
      // complete cross-sections only: every member present at the rn
      val full = f
        .withColumn("nm", count(lit(1)).over(Window.partitionBy(col("rn"))))
        .where(col("nm") === 4)
      // per-series consecutive index — aligned across members because
      // all four series share the same complete-rn set
      val idx = full.select(col("event_type"), col("ret"),
        row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("rn"))).as("i"))
        // r15: both union legs below (rebal21 + buyhold) consume idx —
        // without a pin the events scan + 4-window alignment chain
        // runs twice. The pinned relation is the aligned k-series
        // return panel (data-sized like embTopPc's rows pin — at
        // cluster scale swap for `checkpoint`, the natural restart
        // point for portfolio backtests).
        .localCheckpoint()
      def variant(id: String, blk: Column) = idx
        .withColumn("port_id", lit(id)).withColumn("blk", blk)
      val v = variant("rebal21",
          floor((col("i") - 1).cast("double") / 21.0).cast("long"))
        .unionAll(variant("buyhold", lit(0L)))
      val wBlk = Window.partitionBy(col("port_id"), col("event_type"),
          col("blk")).orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val a = v.join(broadcast(wdf), "event_type")
        .withColumn("ai", log(col("w")) + sum(log(col("ret") + 1.0)).over(wBlk))
      val lv = a
        .withColumn("mx",
          max(col("ai")).over(Window.partitionBy(col("port_id"), col("i"))))
        .groupBy(col("port_id"), col("blk"), col("i"))
        .agg((max(col("mx")) + log(sum(exp(col("ai") - col("mx"))))).as("lv"))
      val wB2 = Window.partitionBy(col("port_id"), col("blk")).orderBy(col("i"))
      val wP = Window.partitionBy(col("port_id")).orderBy(col("i"))
      val cumP = wP.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lv.withColumn("dlv",
          col("lv") - coalesce(lag(col("lv"), 1).over(wB2), lit(0.0)))
        .withColumn("pret", exp(col("dlv")) - 1.0)
        .withColumn("cl", sum(col("dlv")).over(cumP))
        .withColumn("ddl", col("cl") - max(col("cl")).over(cumP))
        .groupBy(col("port_id"))
        .agg(count(lit(1)).as("n_periods"),
          countDistinct(col("blk")).as("n_rebalances"),
          (round(avg(col("pret")) / stddev_samp(col("pret"))
            * lit(math.sqrt(252.0)), 6) + lit(0.0)).as("sharpe_ann"),
          (round(max_by(col("cl"), col("i")), 6) + lit(0.0))
            .as("total_log_return"),
          (round(min(col("ddl")), 6) + lit(0.0)).as("max_drawdown_log"))
    }),
    // Rebalance turnover (op 199, the op-152 companion every weighted
    // mandate reports): at each 21-row block end, weights have DRIFTED
    // to w′_a = exp(ai − lv); the trade the next rebalance executes is
    // turnover = Σ|w_target − w′|/2 (one-way). Same drift algebra as
    // eod_portfolio_weighted (ln w + Σln(1+r), max-shifted LSE);
    // per-asset deviations quantize to 1e-6 longs before the sum. The
    // final block's row is the residual drift at period end (no
    // following rebalance) — kept, and documented as such.
    "eod_turnover" -> ((s, dir) => {
      import s.implicits._
      val wdf = Seq(("click", 0.4), ("purchase", 0.3), ("signup", 0.2),
        ("view", 0.1)).toDF("event_type", "w")
      val f = withRet(s, dir).withColumn("rn", row_number().over(wT))
        .where(col("ret").isNotNull && col("event_type") =!= "error")
        .select(col("event_type"), col("rn"), col("ret"))
      val full = f
        .withColumn("nm", count(lit(1)).over(Window.partitionBy(col("rn"))))
        .where(col("nm") === 4)
      val idx = full.select(col("event_type"), col("ret"),
        row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("rn"))).as("i"))
        .withColumn("blk",
          floor((col("i") - 1).cast("double") / 21.0).cast("long"))
      val wBlk = Window.partitionBy(col("event_type"), col("blk"))
        .orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // INTEGER log state (the op-146 convention — a float ai chain
      // flipped one 1e-6 output at a .5 boundary, measured at sf0.01):
      // ln w inlines as a Scala-computed quantized literal, per-row
      // ln(1+r) quantizes to 1e-9 longs, so aiq is an exact integer
      // both engines replay; the drifted weight is then the EXACT
      // integer ratio eq/Σeq — no further libm in the output path.
      val lnwq = typedLit(Map("click" -> 0.4, "purchase" -> 0.3,
        "signup" -> 0.2, "view" -> 0.1).map { case (k, w) =>
        k -> math.floor(math.log(w) * 1e9 + 0.5).toLong })
      val a = idx.join(broadcast(wdf), "event_type")
        .withColumn("lq",
          floor(log(col("ret") + 1.0) * 1e9 + 0.5).cast("long"))
        .withColumn("aiq",
          lnwq(col("event_type")) + sum(col("lq")).over(wBlk))
      val endR = a
        .withColumn("imax", max(col("i")).over(Window.partitionBy(col("blk"))))
        .where(col("i") === col("imax"))
      val wB = Window.partitionBy(col("blk"))
      endR
        .withColumn("mxq", max(col("aiq")).over(wB))
        .withColumn("eq", floor(
          exp((col("aiq") - col("mxq")).cast("double") / 1e9) * 1e9 + 0.5)
          .cast("long"))
        .withColumn("dq", floor(abs(col("w") - col("eq").cast("double")
          / sum(col("eq")).over(wB).cast("double")) * 1e6 + 0.5)
          .cast("long"))
        .groupBy(col("blk"))
        // floor(Σdq/2 + 0.5)/1e6, NOT round(Σdq/2e6, 6): an odd Σdq
        // lands EXACTLY on a half-1e-6 tie, where Spark's HALF_UP and
        // DuckDB's half-even disagree (measured: 518369/2e6) — the
        // op-146 floor convention is the same function on both engines
        .agg(count(lit(1)).as("n_assets"),
          (floor(sum(col("dq")).cast("double") / 2.0 + 0.5) / 1e6)
            .as("turnover"))
    }),
    // Brinson allocation attribution (op 200; Brinson–Fachler 1985,
    // single-level with assets as classes): per 21-row block, the
    // declared-weight portfolio vs the equal-weight benchmark —
    // contribution_a = (w_a − 1/4)·(r_a − r_B), which sums to the
    // block's active return. Asset block returns compound from the
    // op-199 INTEGER log sums (r_a = exp(Σlq/1e9) − 1, quantized to
    // 1e-6 longs), the benchmark return is the exact integer mean, so
    // every product is the same double algebra on the same integers.
    "eod_brinson" -> ((s, dir) => {
      import s.implicits._
      val wdf = Seq(("click", 0.4), ("purchase", 0.3), ("signup", 0.2),
        ("view", 0.1)).toDF("event_type", "w")
      val f = withRet(s, dir).withColumn("rn", row_number().over(wT))
        .where(col("ret").isNotNull && col("event_type") =!= "error")
        .select(col("event_type"), col("rn"), col("ret"))
      val full = f
        .withColumn("nm", count(lit(1)).over(Window.partitionBy(col("rn"))))
        .where(col("nm") === 4)
      val idx = full.select(col("event_type"), col("ret"),
        row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("rn"))).as("i"))
        .withColumn("blk",
          floor((col("i") - 1).cast("double") / 21.0).cast("long"))
      val blockRet = idx
        .withColumn("lq",
          floor(log(col("ret") + 1.0) * 1e9 + 0.5).cast("long"))
        .groupBy(col("event_type"), col("blk"))
        .agg(sum(col("lq")).as("slq"))
        .withColumn("raq",
          floor((exp(col("slq").cast("double") / 1e9) - 1.0) * 1e6 + 0.5)
            .cast("long"))
      val wB = Window.partitionBy(col("blk"))
      blockRet.join(broadcast(wdf), "event_type")
        .withColumn("rbq", sum(col("raq")).over(wB))
        .select(col("blk"), col("event_type"),
          (col("w") - 0.25).as("active_w"),
          (col("raq") / 1e6).as("block_ret"),
          q6((col("w") - 0.25)
            * (col("raq") / 1e6 - col("rbq").cast("double") / 4e6))
            .as("alloc_contrib"))
    }),
    // Multi-benchmark CAPM (op 143): every asset series regressed on
    // EVERY series in a declared benchmark set at once — the
    // fund-vs-{index, sector, peer-median} report ffn users build by
    // looping calc_stats per benchmark. The benchmark frame is the
    // K·n-row slice of the returns relation (K = #benchmarks, small by
    // declaration), so it broadcasts: ONE broadcast hash join on rn
    // fans each asset row out to its K benchmark pairings — no shuffle
    // of the asset side, however many benchmarks — and one hash agg by
    // (pair_id, bench_id) emits the whole grid.
    "eod_capm_multi" -> ((s, dir) => {
      val benches = Seq("view", "click")
      val r = withRet(s, dir).withColumn("rn", row_number().over(wT))
      val b = r.where(col("event_type").isin(benches: _*))
        .select(col("event_type").as("bench_id"), col("rn"),
          col("ret").as("rb"))
      r.where(!col("event_type").isin(benches: _*))
        .select(col("event_type").as("pair_id"), col("rn"),
          col("ret").as("ra"))
        .join(broadcast(b), "rn")
        .where(col("ra").isNotNull && col("rb").isNotNull)
        .groupBy(col("pair_id"), col("bench_id"))
        .agg(
          (round(Eod.capmBeta(col("ra"), col("rb")), 6) + lit(0.0)).as("beta"),
          (round(Eod.capmAlpha(col("ra"), col("rb")) * Eod.TradingDaysPerYear,
            6) + lit(0.0)).as("alpha_ann"),
          (round(Eod.capmR2(col("ra"), col("rb")), 6) + lit(0.0)).as("r2"),
          (round(Eod.trackingError(col("ra"), col("rb")), 6) + lit(0.0))
            .as("tracking_error"))
    }),
    // Rolling capture ratios (op 144): the windowed twin of
    // eod_capture — trailing-60-row up/down capture and win rate per
    // pair, same per-pair window partitioning as the rolling beta/corr
    // family (never single-partition; WindowGuard enforces).
    // Eod.rollingUpCapture / rollingDownCapture / rollingWinRate:
    // up-capture = Σ(ra|rb>0)/Σ(rb|rb>0) over the frame (the frame
    // counts cancel; the masked count only guards the no-rising-row
    // null), all from O(1) per-row frame-difference sums. The oracle
    // replays the identical algebra.
    "eod_rolling_capture" -> ((s, dir) => {
      val (ra, rb) = (col("ra"), col("rb"))
      pairedReturnsVsView(s, dir).select(col("pair_id"), col("rn"),
        (round(Eod.rollingUpCapture(ra, rb, wPair, 60), 4) + lit(0.0))
          .as("up_capture"),
        (round(Eod.rollingDownCapture(ra, rb, wPair, 60), 4) + lit(0.0))
          .as("down_capture"),
        (round(Eod.rollingWinRate(ra, wPair, 60), 4) + lit(0.0))
          .as("win_rate"))
    }),
    // Calendar return table (op 135, ffn's return-table/heatmap API in
    // long form): period-end value per (series, calendar bucket) — one
    // hash agg, max_by on the unique per-series ts — then period-over-
    // period returns via a lag over the TINY bucketed relation (the
    // window is per-series, never single-partition). Day grain here
    // because the testdata spans one month; the month×year heatmap is
    // the same plan with (yr, mo) as the bucket.
    "eod_return_table" -> ((s, dir) => {
      val m = events(s, dir)
        .groupBy(col("event_type"), year(col("ts")).as("yr"),
          month(col("ts")).as("mo"), dayofmonth(col("ts")).as("dy"))
        .agg(max_by(col("value"), col("ts")).as("eop"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("yr"), col("mo"), col("dy"))
      m.select(col("event_type"), col("yr"), col("mo"), col("dy"),
          (round(col("eop") / lag(col("eop"), 1).over(w) - 1, 6) + lit(0.0))
            .as("period_ret"))
    }),
    // Day-of-week seasonality (op 190, the return_table's calendar
    // sibling): mean return (floor-mean on 1e-6-quantized longs —
    // order-free) and hit rate (exact integer ratio) per (series, ISO
    // weekday). Spark's weekday() is 0=Monday, DuckDB's isodow 1=Monday
    // — the +1 aligns them. One keyed hash agg, map-side combinable.
    "eod_seasonality" -> ((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("dow", weekday(col("ts")) + 1)
        .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"),
          (floor(sum(col("q")).cast("double") / count(lit(1)) + 0.5) / 1e6)
            .as("mean_ret"),
          round(sum(when(col("ret") > 0, 1.0).otherwise(0.0))
            / count(lit(1)), 6).as("hit_rate"))),
    // Calendar resampling (op 153, ffn to_period lineage): weekly
    // grain here (the testdata spans ~a month → several buckets);
    // monthly/yearly are the same plan with a different date_trunc
    // literal. Output follows the epoch-µs timestamp convention.
    "eod_resample_period" -> ((s, dir) =>
      Eod.resampleToPeriod(events(s, dir), "event_type", "ts", "value", "week")
        .select(col("event_type"), unix_micros(col("period")).as("period_us"),
          round(col("eop"), 6).as("eop"),
          (round(col("period_ret"), 6) + lit(0.0)).as("period_ret"))),
    // Drawdown episode report (op 126, ffn's drawdown_details): the
    // query surfaces the event-id row identities (ns-timestamp
    // convention, header note); the operator also carries the real
    // start/trough/end timestamps for human use.
    "eod_drawdown_details" -> ((s, dir) =>
      Drawdown.details(events(s, dir), "event_type", "ts", "event_id", "value")
        .select(col("event_type"), col("episode"), col("start_id"),
          col("trough_id"), col("end_id"), col("n_obs"), col("depth"),
          col("recovered"))),
    // Lookback returns (op 177, ffn calc_stats' three_month/six_month/
    // one_year block at this corpus' one-month span): price now vs the
    // last price at-or-before end−Δ, per series — end anchored by a
    // per-series window max, the Δ-cut values picked by max_by with a
    // null-ordering guard (rows past the cut contribute a null order
    // key, which max_by skips — no second scan, no join).
    "eod_lookback_returns" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("end_ts",
          max(col("ts")).over(Window.partitionBy(col("event_type"))))
        .withColumn("cut7", col("end_ts") - expr("INTERVAL 7 DAYS"))
        .withColumn("cut14", col("end_ts") - expr("INTERVAL 14 DAYS"))
      e.groupBy(col("event_type"))
        .agg(
          round(max_by(col("value"), col("ts")) /
            max_by(col("value"), when(col("ts") <= col("cut7"), col("ts")))
            - 1, 6).as("ret_1w"),
          round(max_by(col("value"), col("ts")) /
            max_by(col("value"), when(col("ts") <= col("cut14"), col("ts")))
            - 1, 6).as("ret_2w"))
    }),
    // Cross-sectional return rank (op 174): at each aligned index,
    // rank the assets by that period's return — the momentum /
    // long-short decile primitive. Windows partition by the
    // cross-section key (many small partitions, never one big one);
    // rank ties break on the asset name over identical ret doubles.
    "eod_cross_rank" -> ((s, dir) => {
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("rn", row_number().over(wT))
      val wX = Window.partitionBy(col("rn"))
        .orderBy(col("ret").desc, col("event_type"))
      r.withColumn("xrank", row_number().over(wX).cast("long"))
        .withColumn("n_assets",
          count(lit(1)).over(Window.partitionBy(col("rn"))))
        .select(col("event_type"), col("rn"), round(col("ret"), 6).as("ret"),
          col("xrank"), col("n_assets"))
    }),
    // Long-short momentum backtest (op 175, the op-174 end-use): rank
    // on the PREVIOUS period's return (the signal must lag the
    // holding period — ranking on the same period's return is
    // lookahead), hold long the top 2 / short the bottom 2 of each
    // complete 5-asset cross-section, and summarize the spread
    // series: period count, mean spread (1e-6-quantized integer
    // sums), annualized Sharpe, hit rate. One extra lag on the
    // already-shuffled per-series window, then per-rn aggs.
    "eod_long_short" -> ((s, dir) => {
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("rn", row_number().over(wT))
        .withColumn("sig", lag(col("ret"), 1).over(wT))
        .where(col("sig").isNotNull)
      val wX = Window.partitionBy(col("rn"))
        .orderBy(col("sig").desc, col("event_type"))
      val ls = r.withColumn("srank", row_number().over(wX))
        .withColumn("na", count(lit(1)).over(Window.partitionBy(col("rn"))))
        .where(col("na") === 5)
        .groupBy(col("rn"))
        .agg((avg(when(col("srank") <= 2, col("ret"))) -
          avg(when(col("srank") >= 4, col("ret")))).as("ls_ret"))
        .withColumn("qls", floor(col("ls_ret") * 1e6 + 0.5).cast("long"))
      ls.agg(count(lit(1)).as("n_periods"),
          (floor(sum(col("qls")).cast("double") / count(lit(1)) + 0.5) / 1e6)
            .as("mean_spread"),
          round(avg(col("qls").cast("double") / 1e6) /
            stddev_samp(col("qls").cast("double") / 1e6)
            * lit(math.sqrt(252.0)), 6).as("sharpe_ann"),
          round(avg(when(col("qls") > 0, 1.0).otherwise(0.0)), 6)
            .as("hit_rate"))
    }),
    // Win/loss streaks (op 235, ffn's calc_stats streak fields):
    // longest winning/losing run and the count of runs ≥ 5, per
    // series — gaps-and-islands (rn − per-sign row_number), every
    // value an exact integer. Two windows + two keyed aggs.
    "eod_streaks" -> ((s, dir) => {
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("rn", row_number().over(wT))
        .withColumn("sgn", when(col("ret") > 0, 1)
          .when(col("ret") < 0, -1).otherwise(0))
      val w2 = Window.partitionBy(col("event_type"), col("sgn"))
        .orderBy(col("rn"))
      r.withColumn("grp", col("rn") - row_number().over(w2))
        .groupBy(col("event_type"), col("sgn"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("event_type"))
        .agg(max(when(col("sgn") === 1, col("len"))).as("max_win_streak"),
          max(when(col("sgn") === -1, col("len"))).as("max_loss_streak"),
          sum(when(col("sgn") === 1 && col("len") >= 5, 1L).otherwise(0L))
            .as("n_win_streaks_5"),
          sum(when(col("sgn") === -1 && col("len") >= 5, 1L).otherwise(0L))
            .as("n_loss_streaks_5"))
    }),
    // Spearman correlation matrix (op 236, the robust sibling of op
    // 70): each series' returns ranked over TIME (event_id
    // tiebreak → integer ranks, engine-exact), then Pearson on the
    // rank pairs via the op-70 bucket-pair shape — ranks are small
    // integers so every corr co-moment sum is exact in double.
    "eod_spearman_matrix" -> ((s, dir) => {
      val wRank = Window.partitionBy(col("event_type"))
        .orderBy(col("ret"), col("event_id"))
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("rn", row_number().over(wT))
        .withColumn("srk", row_number().over(wRank).cast("double"))
        .select(col("event_type"), col("rn"), col("srk"))
      r.groupBy(col("rn"))
        .agg(collect_list(struct(col("event_type"), col("srk"))).as("l"))
        .select(explode(col("l")).as("a"), col("l"))
        .select(col("a"), explode(col("l")).as("b"))
        .where(col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg((round(corr(col("a.srk"), col("b.srk")), 6) + lit(0.0))
          .as("spearman"))
    }),
    // Cross-sectional information coefficient (op 214, the
    // signal-quality companion to op 175's backtest): per complete
    // 5-asset period, Spearman ρ between the PREVIOUS period's
    // return rank and this period's return rank — competition ranks
    // with the event_type tiebreak make d integer, so ρ = 1 −
    // 6Σd²/(n(n²−1)) is the same exact double on both engines; the
    // IC series then summarizes to mean (floor-quantized integer
    // sums), t-stat, and hit rate. Two rank windows + two hash aggs.
    "eod_ic" -> ((s, dir) => {
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("rn", row_number().over(wT))
        .withColumn("sig", lag(col("ret"), 1).over(wT))
        .where(col("sig").isNotNull)
      val wS = Window.partitionBy(col("rn"))
        .orderBy(col("sig").desc, col("event_type"))
      val wR = Window.partitionBy(col("rn"))
        .orderBy(col("ret").desc, col("event_type"))
      val ic = r.withColumn("rs", row_number().over(wS))
        .withColumn("rr", row_number().over(wR))
        .withColumn("na", count(lit(1)).over(Window.partitionBy(col("rn"))))
        .where(col("na") === 5)
        .withColumn("d", (col("rs") - col("rr")).cast("double"))
        .groupBy(col("rn"))
        .agg((lit(1.0) - lit(6.0) * sum(col("d") * col("d")) / lit(120.0))
          .as("ic"))
        .withColumn("qic", floor(col("ic") * 1e6 + 0.5).cast("long"))
      ic.agg(count(lit(1)).as("n_periods"),
        (floor(sum(col("qic")).cast("double") / count(lit(1)) + 0.5) / 1e6)
          .as("mean_ic"),
        round(avg(col("qic").cast("double") / 1e6) /
          stddev_samp(col("qic").cast("double") / 1e6)
          * sqrt(count(lit(1)).cast("double")), 6).as("ic_tstat"),
        round(avg(when(col("qic") > 0, 1.0).otherwise(0.0)), 6)
          .as("hit_rate"))
    }),
    // K-ratio (op 222; Kestner 2003): OLS slope of the LOG equity
    // curve on the time index, divided by its standard error and
    // √n — "how straight is the growth line". Every sum is exact:
    // x is the integer row index, y is ln(price) quantized to 1e-9
    // longs, and the squared/cross sums run through DECIMAL(19,0)²
    // (ln² overflows long at this corpus' price range). The slope/
    // SE algebra then sees identical operands on both engines. ONE
    // map-side-combinable hash agg after the rn window.
    "eod_k_ratio" -> ((s, dir) => {
      val r = events(s, dir).where(col("value") > 0)
        .withColumn("x", row_number().over(wT).cast("long"))
        .withColumn("yq", floor(log(col("value")) * 1e9 + 0.5).cast("long"))
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val a = r.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sx2"), sum(col("yq")).as("sy"),
          sum(dec(col("x")) * dec(col("yq"))).as("sxy"),
          sum(dec(col("yq")) * dec(col("yq"))).as("sy2"))
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double"); val sx2D = col("sx2").cast("double")
      val syD = col("sy").cast("double"); val sxyD = col("sxy").cast("double")
      val sy2D = col("sy2").cast("double")
      val bq = (nD * sxyD - sxD * syD) / (nD * sx2D - sxD * sxD)
      val aq = (syD - bq * sxD) / nD
      val ssq = sy2D - aq * syD - bq * sxyD
      val seq = sqrt((ssq / (nD - lit(2.0))) / (sx2D - sxD * sxD / nD))
      a.select(col("event_type"), col("n"),
          round(bq / 1e9, 9).as("slope"),
          round(seq / 1e9, 9).as("slope_se"),
          (round(bq / seq, 6) + lit(0.0)).as("t_stat"),
          (round(bq / seq / sqrt(nD), 6) + lit(0.0)).as("k_ratio"))
    }),
    // Inverse-volatility portfolio (op 216, risk parity's first-order
    // approximation — the op-151/152 family's third weighting
    // scheme): per complete 21-row block, each asset's weight for
    // the NEXT block is (1/vol)/Σ(1/vol) from THIS block's realized
    // vol. All cross-asset sums are integer (1/vol quantized to 1e-9
    // longs, contributions to 1e-9 longs), so weights are exact
    // integer ratios and the composite return is an exact integer
    // sum — no float-order nondeterminism across engines or
    // partitionings. Block vol comes from 1e-6-quantized integer
    // sums with the squares through DECIMAL(19,0)² (the op-198
    // convention — this corpus' 2682×-per-step returns overflow
    // long q²), and the block return is the exact-integer-ratio MEAN
    // period return (compounding overflows any fixed grid here; see
    // op 151's log-space note).
    // Active share (op 400; Cremers & Petajisto 2009): how far the
    // op-237 inverse-vol book sits from the equal-weight benchmark —
    // ½Σ|w_i − 1/k| per complete rebalance block, plus the
    // max/min weight spread. Weights are exact-integer ratios
    // (iq/Σiq), so the statistic is identical doubles on both
    // engines; same block chain as op 237, one extra k-row agg.
    "eod_active_share" -> ((s, dir) => {
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("rn", row_number().over(wT))
        .withColumn("block", floor((col("rn") - 1) / 21).cast("long"))
        .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
      val blk = r.groupBy(col("event_type"), col("block"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
          sum(col("q").cast("decimal(19,0)") * col("q").cast("decimal(19,0)"))
            .as("sq2"))
        .where(col("n") === 21)
        .withColumn("vol", sqrt((col("sq2").cast("double") / 1e12 -
          (col("sq").cast("double") / 1e6) * (col("sq").cast("double") / 1e6)
            / lit(21.0)) / lit(20.0)))
        .where(col("vol") > 0)
        .withColumn("iq", floor(lit(1.0) / col("vol") * 1e9 + 0.5).cast("long"))
      val tot = blk.groupBy(col("block"))
        .agg(sum(col("iq")).as("siq"), count(lit(1)).as("nw"))
        .where(col("nw") === 5)
      blk.join(broadcast(tot), "block")
        // |w − 1/5| = |5·iq − Σiq| / (5·Σiq): the deviation sum stays
        // an exact integer, so the statistic never rides a
        // partial-agg float-order boundary.
        .withColumn("dev", abs(lit(5) * col("iq") - col("siq")))
        .groupBy(col("block"))
        .agg(count(lit(1)).as("n_assets"),
          (floor(sum(col("dev")).cast("double")
            / (lit(10.0) * max(col("siq")).cast("double")) * 1e6 + 0.5)
            / 1e6).as("active_share"),
          (floor(max(col("iq")).cast("double")
            / max(col("siq")).cast("double") * 1e6 + 0.5) / 1e6)
            .as("max_weight"),
          (floor(min(col("iq")).cast("double")
            / max(col("siq")).cast("double") * 1e6 + 0.5) / 1e6)
            .as("min_weight"))
    }),
    "eod_inverse_vol" -> ((s, dir) => {
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("rn", row_number().over(wT))
        .withColumn("block", floor((col("rn") - 1) / 21).cast("long"))
        .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
      val blk = r.groupBy(col("event_type"), col("block"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
          sum(col("q").cast("decimal(19,0)") * col("q").cast("decimal(19,0)"))
            .as("sq2"))
        .where(col("n") === 21)
        .withColumn("vol", sqrt((col("sq2").cast("double") / 1e12 -
          (col("sq").cast("double") / 1e6) * (col("sq").cast("double") / 1e6)
            / lit(21.0)) / lit(20.0)))
        .withColumn("br", col("sq").cast("double") / 1e6 / lit(21.0))
        // vol = 0 (flat block) must drop the asset-block, not abort;
        // the count-5 completeness gates then drop the whole block.
        .where(col("vol") > 0)
        .withColumn("iq", floor(lit(1.0) / col("vol") * 1e9 + 0.5).cast("long"))
        // r15: blk feeds THREE consumers (weights, completeness gate,
        // the returns leg of the final join) — Catalyst re-plans the
        // events scan + returns window + block agg per consumer, so
        // pin the (type × block)-sized aggregate (r14 pin rule: heavy
        // producer, bounded relation). At cluster scale swap for
        // `checkpoint` (the SemDeDup convention).
        .localCheckpoint()
      val wts = blk.select(col("event_type"), (col("block") + 1).as("block"),
        col("iq"))
      val tot = wts.groupBy(col("block"))
        .agg(sum(col("iq")).as("siq"), count(lit(1)).as("nw"))
        .where(col("nw") === 5)
      // both cross-sections must be complete: 5 weights (prior
      // block) AND 5 asset returns (this block) — a trailing partial
      // block would otherwise emit a portfolio whose weights don't
      // sum to 1.
      val full = blk.groupBy(col("block"))
        .agg(count(lit(1)).as("nb")).where(col("nb") === 5)
      val j = blk.select(col("event_type"), col("block"), col("br"))
        .join(wts, Seq("event_type", "block"))
        .join(tot.select(col("block"), col("siq")), Seq("block"))
        .join(full.select(col("block")), Seq("block"))
        .withColumn("w", col("iq").cast("double") / col("siq").cast("double"))
        .withColumn("cq", floor(col("w") * col("br") * 1e9 + 0.5).cast("long"))
      val port = j.groupBy(col("block"))
        .agg((sum(col("cq")).cast("double") / 1e9).as("pr"))
      j.join(port, Seq("block"))
        .select(col("block"), col("event_type"),
          round(col("w"), 6).as("weight"),
          (round(col("br"), 6) + lit(0.0)).as("asset_ret"),
          (round(col("pr"), 6) + lit(0.0)).as("port_ret"))
    }),
    // Drawdown episode summary (op 162, the calc_stats duration
    // block): aggregates the op-126 episode table per series —
    // episode count, deepest/mean depth (mean on 1e-6-quantized
    // integer sums; depth is already on the 1e-6 grid so the
    // quantization is lossless), longest/mean duration, and the
    // underwater fraction of all observations (total via a tiny
    // per-series count joined back).
    "eod_drawdown_stats" -> ((s, dir) => {
      val det = Drawdown.details(events(s, dir), "event_type", "ts",
        "event_id", "value")
      val tot = events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_series"))
      det.withColumn("qd", floor(col("depth") * 1e6 + 0.5).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_episodes"),
          round(min(col("depth")), 6).as("max_depth"),
          (floor(sum(col("qd")).cast("double") / count(lit(1)) + 0.5) / 1e6)
            .as("avg_depth"),
          max(col("n_obs")).as("max_duration"),
          round(avg(col("n_obs")), 6).as("avg_duration"),
          sum(col("n_obs")).as("n_underwater"))
        .join(tot, "event_type")
        .select(col("event_type"), col("n_episodes"), col("max_depth"),
          col("avg_depth"), col("max_duration"), col("avg_duration"),
          round(col("n_underwater").cast("double") / col("n_series"), 6)
            .as("underwater_frac"))
    }),
    // Burke + Sterling ratios (op 168, the drawdown-denominated
    // performance family next to Calmar): numerator = annualized
    // arithmetic mean return (avg·252, the documented variant);
    // Burke divides by √(Σ depth²) over the op-126 episodes, Sterling
    // by |mean of the 5 deepest| — depths are 1e-6-grid doubles, so
    // qd = floor(d·1e6+0.5) longs make Σqd² and the top-5 mean exact
    // integers (order-free); ranking ties break on episode id.
    "eod_burke_sterling" -> ((s, dir) => {
      val det = Drawdown.details(events(s, dir), "event_type", "ts",
          "event_id", "value")
        .withColumn("qd", floor(col("depth") * 1e6 + 0.5).cast("long"))
      val wDeep = Window.partitionBy(col("event_type"))
        .orderBy(col("qd"), col("episode"))
      val dd = det
        .withColumn("deep_rank", row_number().over(wDeep))
        .groupBy(col("event_type"))
        .agg(sum(col("qd") * col("qd")).as("sum_qd2"),
          sum(when(col("deep_rank") <= 5, col("qd"))).as("top5_qd"),
          sum(when(col("deep_rank") <= 5, 1L).otherwise(0L)).as("n_top"))
      val ann = withRet(s, dir).where(col("ret").isNotNull)
        .groupBy(col("event_type"))
        .agg((avg(col("ret")) * 252.0).as("ann_ret"))
      ann.join(dd, "event_type")
        .select(col("event_type"),
          round(col("ann_ret") /
            (sqrt(col("sum_qd2").cast("double")) / 1e6), 6).as("burke"),
          round(col("ann_ret") /
            abs(col("top5_qd").cast("double") / col("n_top") / 1e6), 6)
            .as("sterling"))
    }),
    // Return autocorrelation at lags 1..5 (op 127): one window pass
    // builds all five lagged columns, one hash agg computes the five
    // correlations, stack() unpivots to (lag_k, acf) rows. corr
    // skips null pairs identically in both engines; `+ 0.0` squashes
    // a rounded −0.0 (a near-zero ACF is the common case).
    "eod_acf" -> ((s, dir) => {
      val lagged = withRet(s, dir).select(
        Seq(col("event_type"), col("ret")) ++
          (1 to 5).map(kk => lag(col("ret"), kk).over(wT).as(s"l$kk")): _*)
      val aggs = (1 to 5).map(kk =>
        (round(corr(col("ret"), col(s"l$kk")), 6) + lit(0.0)).as(s"a$kk"))
      lagged.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
        .selectExpr("event_type",
          "stack(5, 1, a1, 2, a2, 3, a3, 4, a4, 5, a5) AS (lag_k, acf)")
    }),
    // Order-flow sign autocorrelation (op 196): the eod_acf kernel on
    // tick-rule signs — the long-memory-of-order-flow diagnostic (LOB
    // literature: sign ACF decays slowly where returns' doesn't).
    // Signs are small ints, corr's pairwise null-skip identical on
    // both engines; one window pass builds dir + its five lags.
    "tick_sign_autocorr" -> ((s, dir) => {
      val d = when(col("value") > lag(col("value"), 1).over(wT), 1)
        .when(col("value") < lag(col("value"), 1).over(wT), -1).otherwise(0)
      val lagged = events(s, dir).select(col("event_type"), col("ts"),
          col("event_id"), d.as("dir"))
        .select(Seq(col("event_type"), col("dir")) ++
          (1 to 5).map(kk => lag(col("dir"), kk).over(wT).as(s"l$kk")): _*)
      val aggs = (1 to 5).map(kk =>
        (round(corr(col("dir"), col(s"l$kk")), 6) + lit(0.0)).as(s"a$kk"))
      lagged.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
        .selectExpr("event_type",
          "stack(5, 1, a1, 2, a2, 3, a3, 4, a4, 5, a5) AS (lag_k, sign_acf)")
    }),
    // Intraday volume profile (op 242, the U-shape diagnostic every
    // execution scheduler calibrates against): volume share per
    // (symbol, hour-of-day) — integer volume sums, share an exact
    // integer ratio. One keyed agg + a per-symbol total join.
    "tick_volume_profile" -> ((s, dir) => {
      val v = (col("event_id") % 100 + 1).cast("long")
      val h = events(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).as("hr"))
        .agg(sum(v).as("vol"), count(lit(1)).as("n_trades"))
      val t = h.groupBy(col("event_type")).agg(sum(col("vol")).as("tv"))
      h.join(t, "event_type")
        .select(col("event_type"), col("hr"), col("n_trades"), col("vol"),
          round(col("vol").cast("double") / col("tv").cast("double"), 6)
            .as("vol_share"))
    }),
    // Bipower variation & jump share (op 211; Barndorff-Nielsen &
    // Shephard 2004): BV = (π/2)·Σ|r_i||r_{i−1}| is robust to jumps
    // while RV = Σr² is not, so max(0, 1 − BV/RV) isolates the jump
    // contribution to realized variance. One window pass (log return
    // + its lag), one hash agg; π/2 inlined as the same round-trip
    // double literal on both engines.
    "tick_bipower" -> ((s, dir) => {
      val lagged = events(s, dir)
        .withColumn("lr", Tick.microReturns(col("value"), wT))
        .withColumn("lp", lag(col("lr"), 1).over(wT))
      lagged.groupBy(col("event_type"))
        .agg(sum(col("lr") * col("lr")).as("rvr"),
          (lit(PiOver2) * sum(abs(col("lr")) * abs(col("lp")))).as("bvr"))
        .select(col("event_type"),
          round(col("rvr"), 6).as("rv"),
          round(col("bvr"), 6).as("bv"),
          // rvr = 0 (degenerate flat series) must null, not abort.
          (round(when(col("rvr") =!= 0.0,
            greatest(lit(0.0), lit(1.0) - col("bvr") / col("rvr"))), 6)
            + lit(0.0)).as("jump_share"))
    }),
    // Corwin–Schultz high–low spread estimator (op 215; Corwin &
    // Schultz 2012): bid-ask spread recovered from daily high/low
    // ranges alone — β sums the two days' squared log ranges, γ is
    // the squared log range of the two-day span, α combines them
    // with k = 3 − 2√2, S = 2(e^α − 1)/(1 + e^α). Non-overlapping
    // day pairs via lead() on odd row numbers; day highs/lows are
    // exact parquet max/min, every transcendental sees the same
    // double on both engines, negative estimates floor at 0 (the
    // paper's convention). Mean spread per series over ~15 pairs.
    "tick_corwin_schultz" -> ((s, dir) => {
      val wD = Window.partitionBy(col("event_type"))
        .orderBy(col("yr"), col("mo"), col("dy"))
      // value > 0: sf0.1+ plants zero-priced bad ticks; a 0 low
      // would ANSI-abort ln(hi/lo) (the op-1 safeDiv rationale).
      val d = events(s, dir).where(col("value") > 0)
        .groupBy(col("event_type"), year(col("ts")).as("yr"),
          month(col("ts")).as("mo"), dayofmonth(col("ts")).as("dy"))
        .agg(max(col("value")).as("hi"), min(col("value")).as("lo"))
        .withColumn("rn", row_number().over(wD))
        .withColumn("hi2", lead(col("hi"), 1).over(wD))
        .withColumn("lo2", lead(col("lo"), 1).over(wD))
        .where(col("rn") % 2 === 1 && col("hi2").isNotNull)
      val k = CsK
      val beta = pow(log(col("hi") / col("lo")), 2) +
        pow(log(col("hi2") / col("lo2")), 2)
      val gamma = pow(log(greatest(col("hi"), col("hi2")) /
        least(col("lo"), col("lo2"))), 2)
      val alpha = (sqrt(lit(2.0) * beta) - sqrt(beta)) / lit(k) -
        sqrt(gamma / lit(k))
      val cs = lit(2.0) * (exp(alpha) - lit(1.0)) / (lit(1.0) + exp(alpha))
      d.withColumn("s_pos", greatest(lit(0.0), cs))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("s_pos")), 6).as("cs_spread"),
          round(avg(when(col("s_pos") > 0, 1.0).otherwise(0.0)), 6)
            .as("frac_pos"))
    }),
    // Lo–MacKinlay variance ratio (op 128): VR(q) = Var(q-period log
    // return)/(q·Var(1-period)) over non-overlapping complete blocks.
    // Log returns quantize to 1e-6 longs BEFORE the block sums so the
    // sums are order-independent (repo convention); explode×{2,4,8}
    // keeps it ONE window pass + one agg chain instead of three scans.
    "eod_variance_ratio" -> ((s, dir) => {
      val base = events(s, dir)
        .withColumn("lr", ln(col("value")) - ln(lag(col("value"), 1).over(wT)))
        .where(col("lr").isNotNull)
        .withColumn("lrq", floor(col("lr") * 1e6 + 0.5).cast("long"))
        .withColumn("rn", row_number().over(wT))
      val denom = base.groupBy(col("event_type"))
        .agg(var_samp(col("lrq") / 1e6).as("v1"))
      base.withColumn("q", explode(array(lit(2), lit(4), lit(8))))
        .groupBy(col("event_type"), col("q"),
          floor((col("rn") - 1) / col("q")).as("bucket"))
        .agg(sum(col("lrq")).as("sq"), count(lit(1)).as("c"))
        .where(col("c") === col("q"))
        .groupBy(col("event_type"), col("q"))
        .agg(var_samp(col("sq") / 1e6).as("vq"))
        .join(denom, "event_type")
        .select(col("event_type"), col("q"),
          (round(col("vq") / (col("q") * col("v1")), 6) + lit(0.0)).as("vr"))
    }),
    // Hurst exponent by rescaled-range analysis (op 191; Hurst 1951,
    // Mandelbrot–Wallis 1969 — the long-memory companion to op 128's
    // variance ratio): for block sizes m ∈ {8, 32, 128}, R/S per
    // non-overlapping complete block (sizes chosen so the smallest
    // test corpus still fills the largest block), H = slope of ln⟨R/S⟩ on ln m.
    // With log-equally-spaced sizes the OLS slope reduces to
    // (y₃−y₁)/(x₃−x₁) = Δln(mrs)/ln 16 — the middle point drops out.
    // EXACTNESS: log returns quantize to 1e-6 longs; the in-block
    // cumulative deviation scales to the INTEGER dev_i = m·cumq_i −
    // i·Σq (clearing the mean's denominator), so R/S =
    // (max dev − min dev)/√(m·Σq² − (Σq)²) is a ratio of exact
    // integers — identical doubles on both engines — then block means
    // floor-quantize (the op-146 convention). explode×3 keeps it one
    // window family + two keyed aggs; every window partitions by
    // (series, m, block).
    "eod_hurst" -> ((s, dir) => {
      val base = events(s, dir)
        .withColumn("lr", ln(col("value")) - ln(lag(col("value"), 1).over(wT)))
        .where(col("lr").isNotNull)
        .withColumn("q", floor(col("lr") * 1e6 + 0.5).cast("long"))
        .withColumn("rn", row_number().over(wT))
        .withColumn("m", explode(array(lit(8), lit(32), lit(128))))
        .withColumn("blk", floor((col("rn") - 1) / col("m")).cast("long"))
      val wBlk = Window.partitionBy(col("event_type"), col("m"), col("blk"))
      val wCum = wBlk.orderBy(col("rn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blocks = base
        .withColumn("cumq", sum(col("q")).over(wCum))
        .withColumn("i", col("rn") - col("blk") * col("m"))
        .withColumn("dev",
          col("cumq") * col("m") - col("i") * sum(col("q")).over(wBlk))
        .groupBy(col("event_type"), col("m"), col("blk"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
          sum(col("q") * col("q")).as("sq2"),
          max(col("dev")).as("maxd"), min(col("dev")).as("mind"))
        .where(col("n") === col("m"))
        .withColumn("num", col("m") * col("sq2") - col("sq") * col("sq"))
        .where(col("num") > 0)
        .withColumn("rsq", floor((col("maxd") - col("mind")).cast("double")
          / sqrt(col("num").cast("double")) * 1e6 + 0.5).cast("long"))
      val perM = blocks.groupBy(col("event_type"), col("m"))
        .agg((floor(sum(col("rsq")).cast("double") / count(lit(1)) + 0.5)
          / 1e6).as("mrs"))
      perM.groupBy(col("event_type"))
        .agg(max(when(col("m") === 8, col("mrs"))).as("mrs_8"),
          max(when(col("m") === 32, col("mrs"))).as("mrs_32"),
          max(when(col("m") === 128, col("mrs"))).as("mrs_128"))
        .select(col("event_type"), col("mrs_8"), col("mrs_32"),
          col("mrs_128"),
          (round((ln(col("mrs_128")) - ln(col("mrs_8"))) / FourLn2, 6)
            + lit(0.0)).as("hurst"))
    }),
    // ffn's calc_stats / GroupStats headline (op 131): the full
    // per-series performance summary as ONE composed plan — a single
    // ordered-window pass computes returns and both drawdown series,
    // one partition-frame window adds the centered deviations, one
    // hash agg emits all twelve metrics. Each metric reuses the
    // kernel (and rounding) of its standalone oracle-green query.
    "eod_perf_summary" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      events(s, dir)
        .withColumn("p", stablePrice)
        .withColumn("ret", Eod.toReturns(col("value"), wT))
        .withColumn("dd", Eod.toDrawdownSeries(col("value"), wT))
        .withColumn("ddp", Eod.toDrawdownSeries(col("p"), wT))
        .withColumn("dev", when(col("ret").isNotNull,
          col("ret") - avg(col("ret")).over(wSym)))
        .groupBy(col("event_type"))
        .agg(
          round(Eod.totalReturn(col("value"), col("ts")), 6).as("total_return"),
          round(Eod.cagr(col("p"), col("ts")), 6).as("cagr"),
          round(Eod.sharpe(col("ret"), RF, NP), 6).as("sharpe"),
          round(Eod.sortino(col("ret"), RF, NP), 6).as("sortino"),
          round(Eod.maxDrawdownFromDrawdown(col("dd")), 6).as("max_drawdown"),
          round(Eod.calmar(col("p"), col("ts"), col("ddp")), 6).as("calmar"),
          round(Eod.ulcerIndexFromDrawdown(col("dd")), 6).as("ulcer_index"),
          round(Eod.ulcerPerformanceIndex(col("ret"), col("dd")), 6).as("upi"),
          round(Eod.skewnessFromDev(col("dev")), 6).as("skew"),
          round(Eod.excessKurtosisFromDev(col("dev")), 6).as("kurt_excess"),
          round(Eod.yearFrac(col("ts")), 6).as("year_frac"),
          count(lit(1)).as("n_obs"))
    }),

    // ---- Tick (ops 25-38)
    "tick_trade_rate" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.tradeRate(col("ts"), "ms"), 6).as("trade_rate"))),
    "tick_inter_trade_time" -> ((s, dir) =>
      events(s, dir).withColumn("delta_ns", Tick.tsDeltaNs(col("ts"), wT))
        .groupBy(col("event_type"))
        .agg(round(Tick.interTradeTime(col("delta_ns"), "s"), 6).as("inter_trade_time"))),
    "tick_burstiness" -> ((s, dir) =>
      events(s, dir).withColumn("delta_ns", Tick.tsDeltaNs(col("ts"), wT))
        .groupBy(col("event_type"))
        .agg(round(Tick.burstiness(col("delta_ns")), 6).as("burstiness"))),
    // ACD(1,1) expected-duration filter (op 304; Engle–Russell 1998):
    // the duration-process sibling of eod_garch_filter — ψ_t forecasts
    // the next inter-trade gap from the trailing gaps, and x/ψ is the
    // "duration surprise" (≪1 = activity burst, the event-time trading
    // signal). Same native codegen'd fold (graft_acd_psi), same
    // k=60-truncated closed form, same self-join-replayable oracle.
    // ψ rounds at 4dp: durations are O(10²) s, so the oracle's
    // unordered Σβ^j·x accumulates ~1e-13 abs jitter — 1e-4 is the
    // finest grid with negligible knife-edge risk (the GARCH query's
    // 8dp is safe only because vol is O(10⁻²)).
    "tick_acd" -> ((s, dir) =>
      events(s, dir)
        .withColumn("x", Tick.tsDeltaNs(col("ts"), wT).cast("double") / 1e9)
        .where(col("x").isNotNull)
        .withColumn("psi", graft.expressions.AcdPsi(
          collect_list(col("x")).over(wT.rowsBetween(-60, -1)),
          omega = 0.05, alpha = 0.10, beta = 0.85))
        .withColumn("rn", row_number().over(wT))
        .where(col("rn") >= 2) // the frame is built BEFORE this filter
        .select(col("event_type"), col("event_id"),
          round(col("psi"), 4).as("acd_psi"),
          round(col("x") / col("psi"), 6).as("dur_surprise"))),
    // Hawkes self-exciting intensity (op 342; Hawkes 1971, the
    // arrival-process capstone over ops 25-27/304): λ_i = μ + α·Σ_{j<i}
    // B^Δsec over the trailing 60 arrivals — "how much current activity
    // is echo of recent activity". Same k-truncated trailing-array fold
    // as the EWMA/GARCH/ACD family, but each kernel term quantizes to a
    // 1e-9 long BEFORE summing, so the sum is addition-ORDER-free and
    // the oracle's unordered self-join replays it exactly (pow(B, int)
    // is the one shared libm call, the eod_ewma_vol precedent). μ=0.05,
    // α=0.3, B=0.995/sec documented literals; branching ratio per
    // symbol = α·Σ B^j bounded < α/(1−B).
    "tick_hawkes" -> ((s, dir) =>
      events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("sumq", graft.expressions.HawkesKernelSum(
          collect_list(col("us")).over(wT.rowsBetween(-60, -1)),
          col("us"), base = 0.995))
        .select(col("event_type"), col("event_id"),
          round(lit(0.05) + lit(0.3) * (col("sumq").cast("double") / 1e9), 6)
            .as("lambda"))),
    // Streaming Hawkes, REPLAYED to batch (op 346): ≤60 arrival-µs of
    // state per symbol; each arrival's quantized kernel sum over the
    // pre-append state equals the batch rowsBetween(−60,−1) frame, so
    // the batch op-342 oracle replays the stream verbatim.
    "streaming_hawkes" -> ((s, dir) => {
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
    }),
    "tick_volume_rate" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.volumeRate(volume, col("ts"), "s"), 6).as("volume_rate"))),
    "tick_ofi" -> ((s, dir) =>
      events(s, dir)
        .withColumn("sv", Tick.signVolumeByTickRule(volume, col("value"), wT))
        .groupBy(col("event_type"))
        .agg(round(Tick.orderFlowImbalance(col("sv")), 6).as("ofi"))),
    "tick_traded_value" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.tradedValue(col("value"), volume), 2).as("traded_value"))),
    "tick_vwap" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.vwap(col("value"), volume), 6).as("vwap"))),
    "tick_rule" -> ((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        Tick.tickRule(col("value"), wT).cast("int").as("direction"))),
    "tick_signed_volume" -> ((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Tick.signVolumeByTickRule(volume, col("value"), wT), 6).as("signed_volume"))),
    "tick_imbalance" -> ((s, dir) =>
      events(s, dir).withColumn("dir", Tick.tickRule(col("value"), wT))
        .groupBy(col("event_type"))
        .agg((round(Tick.tickImbalance(col("dir")), 6) + lit(0.0))
          .as("tick_imbalance"))),
    "tick_micro_returns" -> ((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Tick.microReturns(col("value"), wT), 6).as("micro_ret"))),
    "tick_pvr" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.priceVolatilityRatio(col("value")), 6).as("pvr"))),
    "tick_price_impact" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.priceImpact(col("value"), volume, col("ts")), 6).as("price_impact"))),
    "tick_realized_vol" -> ((s, dir) =>
      events(s, dir).withColumn("lr", Tick.microReturns(col("value"), wT))
        .groupBy(col("event_type"))
        .agg(round(Tick.realizedVolatility(col("lr")), 6).as("realized_vol"))),
    // Realized higher moments (op 291; Amaya/Christoffersen/Jacobs/
    // Vasquez 2015): intraday skew √n·Σr³/RV^{3/2} and kurtosis
    // n·Σr⁴/RV² from the same one-lag-pass log returns as op 38's RV —
    // the jump/crash-risk signals a realized-vol desk reads next to
    // RV, and still a single map-side-combined agg of power sums.
    "tick_realized_moments" -> ((s, dir) =>
      events(s, dir).withColumn("lr", Tick.microReturns(col("value"), wT))
        .where(col("lr").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("lr") * col("lr")).as("rv"),
          sum(col("lr") * col("lr") * col("lr")).as("s3"),
          sum(col("lr") * col("lr") * col("lr") * col("lr")).as("s4"))
        .select(col("event_type"), col("n"),
          round(sqrt(col("rv")), 6).as("realized_vol"),
          round(sqrt(col("n").cast("double")) * col("s3") /
            (col("rv") * sqrt(col("rv"))), 6).as("realized_skew"),
          round(col("n").cast("double") * col("s4") /
            (col("rv") * col("rv")), 6).as("realized_kurt"))),

    // ---- Relational core (ops 43-45)
    "rel_pricing_summary" -> ((s, dir) => relPricingSummary(s, dir)),
    "rel_join_agg" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer"); val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region")
      // dims broadcast; fact-fact join shuffles on the key.
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,8)")).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    "rel_topn_per_group" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total_price"))
    }),
    // Op 66's driver row (op 307): this side is written with pow(l_quantity, 2.0);
    // SquareRewriteRule (installed by Graft.register in Verify AND
    // Bench) rewrites it to l_quantity*l_quantity before execution, and
    // the oracle replays the multiply. Math.pow is not correctly
    // rounded in general while x*x is one rounded op, so a hash match
    // here is evidence the REWRITTEN expression ran — the rule's
    // value-preservation claim, driver-checked (exactness: l_quantity
    // is integral 1..50, so every square and partial sum is an exact
    // double on both engines regardless of accumulation order).
    // PlanSpec pins the structural half (no POWER in the optimized plan).
    "rel_pow2_rewrite" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(pow(col("l_quantity"), 2.0)).as("sum_qty_sq"))),

    // Bucketed co-located join (op 65), oracle-backed: write both fact
    // tables bucketed+sorted on the join key, then join AND aggregate on
    // that key — with broadcast off, the whole plan runs shuffle-free
    // off the bucketed layout (SourcesSpec pins the no-Exchange plan;
    // this query pins the RESULT through the write→read→join path). At
    // 100 TB this is the lake layout that amortizes the fact-fact
    // shuffle into the write once, instead of paying it per query.
    "rel_bucketed_join" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val tw0 = System.nanoTime()
      graft.sources.Tables.writeBucketed(
        graft.sources.Tables.load(s2, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice")),
        "graft_orders_b", Seq("o_orderkey"), 8)
      graft.sources.Tables.writeBucketed(
        graft.sources.Tables.load(s2, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity")),
        "graft_lineitem_b", Seq("l_orderkey"), 8)
      setupStats("rel_bucketed_join") = (System.nanoTime() - tw0) / 1e9
      s2.table("graft_orders_b")
        .join(s2.table("graft_lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 6).as("sum_qty"),
          round(max(col("o_totalprice")), 6).as("total_price"))
    }),
    // Semi/anti joins (op 164): EXISTS/NOT EXISTS as LeftSemi/LeftAnti
    // — the probe side streams, the build side reduces to keys only
    // (never a payload join + distinct), and the nation spine keeps
    // empty groups visible. At 100 TB the orders key set broadcasts
    // or shuffle-joins on the key; either way no row multiplication.
    "rel_semi_anti" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
      val n = tbl(s, dir, "nation")
      val open = c.join(
          o.where(col("o_orderstatus") === "O").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_open_cust"))
      val none = c.join(o.select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_no_order_cust"))
      n.select(col("n_nationkey"), col("n_name"))
        .join(open, col("n_nationkey") === open("c_nationkey"), "left")
        .drop("c_nationkey")
        .join(none, col("n_nationkey") === none("c_nationkey"), "left")
        .select(col("n_name"),
          coalesce(col("n_open_cust"), lit(0L)).as("n_open_cust"),
          coalesce(col("n_no_order_cust"), lit(0L)).as("n_no_order_cust"))
    }),
    // Rollup with subtotal rows (op 165): region × nation revenue with
    // per-region and grand-total rows, labels coalesced to 'ALL' so
    // the subtotal identity is a value, not an engine-specific null.
    "rel_rollup" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer"); val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,8)")).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
          coalesce(col("n_name"), lit("ALL")).as("n_name"),
          col("revenue"), col("n_items"))
    }),
    // Pivot (op 166): revenue by order priority across order-status
    // columns — conditional aggregation under the hood (one hash agg,
    // no joins), the spreadsheet-shaped report surface.
    "rel_pivot" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      o.groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice").cast("decimal(30,8)"))
          .cast("double"), 2))
        .select(col("o_orderpriority"), col("F").as("rev_f"),
          col("O").as("rev_o"), col("P").as("rev_p"))
    }),
    // TPC-H Q3 shape (op 205, the shipping-priority report — the
    // canonical 3-way join + sort-limit every warehouse benchmarks):
    // segment filter on the customer dim, date filters on BOTH fact
    // scans (all three reach the parquet readers as pushed
    // predicates), revenue as exact DECIMAL so the top-10 order is a
    // total order (ties break on l_orderkey), rounded only on output.
    "rel_tpch_q3" -> ((s, dir) => {
      val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem")
      val cut = lit("1998-01-01").cast("timestamp")
      c.where(col("c_mktsegment") === "BUILDING")
        .join(o, col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") < cut)
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .where(col("l_shipdate") > cut)
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,8)")).as("rev"),
          unix_micros(max(col("o_orderdate"))).as("o_orderdate_us"))
        .orderBy(col("rev").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"),
          round(col("rev").cast("double"), 2).as("revenue"),
          col("o_orderdate_us"))
    }),
    // Cube (op 185): revenue over ALL 2² grouping combinations of
    // (region, order priority) in ONE Expand+agg pass — the OLAP
    // completion of op 165's rollup (which only emits the prefix
    // subtotals); labels coalesce to 'ALL' so subtotal identity is a
    // value, not an engine-specific null. Dims join broadcast.
    "rel_cube" -> ((s, dir) => {
      val o = tbl(s, dir, "orders"); val c = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation"); val r = tbl(s, dir, "region")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .cube(col("r_name"), col("o_orderpriority"))
        .agg(round(sum(col("o_totalprice").cast("decimal(30,8)"))
          .cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("revenue"), col("n_orders"))
    }),
    // Ranking-function report (op 186): percent_rank / cume_dist /
    // ntile(10) per market segment, compacted to one row per (segment,
    // decile). The window orders by (acctbal, custkey) — custkey is
    // unique, so every rank function is tie-free and the emitted
    // fractions are exact small-integer ratios both engines compute
    // identically. Windows partition per segment (never global).
    "rel_window_funcs" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      c.select(col("c_mktsegment"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          ntile(10).over(w).as("decile"))
        .groupBy(col("c_mktsegment"), col("decile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("pr")), 6).as("min_pr"),
          round(max(col("cd")), 6).as("max_cd"))
    }),
    // TPC-H Q5 shape (op 212, local-supplier revenue): the 6-way
    // join whose distinguishing constraint is c_nationkey =
    // s_nationkey — two INDEPENDENT dimension paths that must agree,
    // which no snowflake traversal expresses. The region filter
    // prunes the broadcast nation⋈region branch before any fact
    // shuffle; revenue sums in exact DECIMAL.
    "rel_tpch_q5" -> ((s, dir) => {
      val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem"); val sup = tbl(s, dir, "supplier")
      val n = tbl(s, dir, "nation"); val r = tbl(s, dir, "region")
      val asia = broadcast(n.join(r.where(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey")))
      c.join(asia, col("c_nationkey") === col("n_nationkey"))
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,8)")).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // Decorrelated scalar subquery (op 213): "orders above their
    // customer's average order value" — the correlated-subquery
    // shape every optimizer decorrelates. Spark-first it is ONE
    // window agg (sum+count per customer, no self-join), and the
    // comparison runs in exact DECIMAL cross-multiplied form
    // (price·n > Σprice) so the boundary row never depends on float
    // averaging order.
    "rel_above_avg" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val wC = Window.partitionBy(col("o_custkey"))
      o.withColumn("s", sum(col("o_totalprice").cast("decimal(30,8)")).over(wC))
        .withColumn("n", count(lit(1)).over(wC))
        .where(col("o_totalprice").cast("decimal(30,8)") * col("n") > col("s"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_above"),
          round(sum(col("o_totalprice").cast("decimal(30,8)")).cast("double"), 2)
            .as("sum_above"))
    }),
    // TPC-H Q18 shape (op 245, large-volume orders): orders whose
    // total line quantity exceeds a threshold — the GROUP BY +
    // HAVING derived relation joined back to its dimensions; the
    // having-filtered key set drives a SEMI-join-shaped plan (the
    // aggregate output is tiny, so AQE broadcasts it). Quantity
    // sums in exact DECIMAL so the threshold comparison never
    // depends on float order.
    "rel_large_orders" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(30,8)")).as("qty"))
        .where(col("qty") > lit(150))
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          unix_micros(col("o_orderdate")).as("o_orderdate_us"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          round(col("qty").cast("double"), 2).as("total_qty"))
    }),
    // TPC-H Q6 shape (op 234, the forecast-revenue-change scan): a
    // pure filter-aggregate with NO join — the canonical predicate-
    // pushdown showcase (all three predicates reach the parquet
    // reader; the scan is the whole plan). Exact DECIMAL revenue.
    "rel_tpch_q6" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(30,8)")).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))),
    // TPC-DS Q88 shape (op 355; the multi-band one-scan report): eight
    // quantity-band counts + exact-decimal revenue bands from ONE
    // lineitem scan via conditional aggregation — the shape naive SQL
    // writes as 8 self-joined subqueries (8 scans); at 100 TB the
    // single-pass rewrite IS the optimization. PlanSpec pins exactly
    // one lineitem scan in the plan.
    "rel_multi_band_scan" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      def band(i: Int) = {
        val lo = i * 6.0 + 1.0 // bands [1,7), [7,13), ..., [43,49)
        when(col("l_quantity") >= lo && col("l_quantity") < lo + 6.0, 1L)
          .otherwise(0L)
      }
      def rev(i: Int) = {
        val lo = i * 6.0 + 1.0
        sum(when(col("l_quantity") >= lo && col("l_quantity") < lo + 6.0,
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(30,8)"))
          .otherwise(lit(0).cast("decimal(30,8)")))
      }
      li.agg(
        sum(band(0)).as("n_b1"), sum(band(1)).as("n_b2"),
        sum(band(2)).as("n_b3"), sum(band(3)).as("n_b4"),
        sum(band(4)).as("n_b5"), sum(band(5)).as("n_b6"),
        sum(band(6)).as("n_b7"), sum(band(7)).as("n_b8"),
        round(rev(0).cast("double"), 2).as("rev_b1"),
        round(rev(7).cast("double"), 2).as("rev_b8"))
    }),
    // TPC-H Q17 shape (op 292, small-quantity-order revenue): average
    // yearly revenue lost if small orders (< 20% of the part's mean
    // quantity) stopped shipping, for one brand. The correlated
    // subquery de-correlates into a per-part window mean over ONLY the
    // brand's lineitems — the brand filter (a broadcast semi-join on
    // the dim) runs BEFORE the window, so the shuffle keys ~1/25 of
    // the fact table, not all of it. Money in exact DECIMAL (op 209's
    // convention).
    "rel_tpch_q17" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val p = tbl(s, dir, "part").where(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))
      val wP = Window.partitionBy(col("l_partkey"))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .withColumn("lim", avg(col("l_quantity")).over(wP) * 0.2)
        .where(col("l_quantity") < col("lim"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(30,8)"))
            .cast("double") / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n_items"))
    }),
    // TPC-H Q7 shape (op 299, bilateral volume shipping): revenue
    // flowing between NATION_3 suppliers and NATION_8 customers, BOTH
    // directions, by ship year. The two nation filters broadcast onto
    // supplier/customer before either touches a fact table, so the
    // or-of-two-pairs predicate prunes to two tiny key sets; shuffles
    // are the same two fact-fact joins as op 298.
    "rel_tpch_q7" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer"); val n = tbl(s, dir, "nation")
      val sup = tbl(s, dir, "supplier")
      val nn = n.where(col("n_name").isin("NATION_3", "NATION_8"))
        .select(col("n_nationkey"), col("n_name"))
      val supN = sup.join(broadcast(nn),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custN = c.join(broadcast(nn),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(30,8)")
      li.join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(o.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(custN, col("o_custkey") === col("c_custkey"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(vol).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // TPC-H Q13 shape (op 300, customer order-count distribution):
    // how many customers placed k orders, INCLUDING the zero-order
    // tail a left join preserves — two keyed aggs back-to-back, the
    // histogram-of-a-histogram shape. Both shuffles key on high-
    // cardinality keys (custkey, then the tiny count grid).
    "rel_tpch_q13" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      tbl(s, dir, "customer").select(col("c_custkey"))
        .join(o.select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),
    // TPC-H Q4 shape (op 308, order-priority checking): orders in one
    // quarter with at least one LATE line (shipped >90 days after the
    // order date — the testdata has no commit/receipt dates, so
    // lateness plays Q4's commit-vs-receipt role), counted by
    // priority. The EXISTS plans as ONE LeftSemi on orderkey with the
    // lateness predicate as a join residual — no distinct, no
    // double-scan; the date filter pushes to the orders scan.
    "rel_tpch_q4" -> ((s, dir) => {
      val o = tbl(s, dir, "orders"); val li = tbl(s, dir, "lineitem")
      o.where(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
        .join(li.select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") +
              expr("INTERVAL 90 DAYS"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),
    // TPC-H Q12 shape (op 309, shipping-priority audit): one ship
    // year of lineitems split by returnflag (playing Q12's shipmode),
    // with conditional counts of critical (1-URGENT/2-HIGH) vs other
    // order priorities — the fact⋈fact join plus CASE-sum pattern.
    // Both counts are exact integers; the date bounds push to the
    // lineitem scan before the orderkey shuffle.
    "rel_tpch_q12" -> ((s, dir) => {
      val o = tbl(s, dir, "orders"); val li = tbl(s, dir, "lineitem")
      li.where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(o.select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            1L).otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            0L).otherwise(1L)).as("low_line_count"))
    }),
    // TPC-H Q9 shape (op 310, product-type profit): per supplier
    // nation × order year, profit on red-named parts. No partsupp
    // table exists, so supply cost is proxied as half the part's
    // retail price — same join tree (fact ⋈ part ⋈ supplier ⋈ nation
    // ⋈ orders), same per-row profit expression on BOTH engines
    // (identical parenthesization, then exact-DECIMAL sum). part and
    // supplier-nation broadcast; the one big shuffle is li⋈orders.
    "rel_tpch_q9" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val p = tbl(s, dir, "part"); val sup = tbl(s, dir, "supplier")
      val n = tbl(s, dir, "nation")
      val supN = sup.join(broadcast(n.select(col("n_nationkey"),
            col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val profit = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        - lit(0.5) * col("p_retailprice") * col("l_quantity"))
        .cast("decimal(30,8)")
      li.join(broadcast(p.where(col("p_name").like("%red%"))
            .select(col("p_partkey"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(o.select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), col("o_year"))
        .agg(round(sum(profit).cast("double"), 2).as("sum_profit"),
          count(lit(1)).as("n_items"))
    }),
    // TPC-H Q11 shape (op 311, important stock): per-part inventory
    // value from one nation's suppliers, kept when the part's value
    // exceeds 0.1% of the nation total — the HAVING-against-a-scalar-
    // subquery pattern. Values quantize to integer CENTS per row, so
    // the division-free threshold compare (v·n > total — above the
    // MEAN part value, which self-scales with part count the way
    // TPC-H's 0.0001/SF fraction does; a fixed fraction returns 0
    // rows at sf0.1) is pure long arithmetic — a part within an ulp
    // of the float threshold can't flip membership between engines.
    // (Longs, not decimal·k: Spark's precision-capped decimal
    // multiply truncates scale 8→6 and would break exactness.)
    "rel_tpch_q11" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val sup = tbl(s, dir, "supplier")
      val n = tbl(s, dir, "nation")
      val supN = sup.join(broadcast(n.where(col("n_name") === "NATION_3")
            .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val cents = floor(col("l_extendedprice") * col("l_quantity")
        * 100.0 + 0.5).cast("long")
      // r14: perPart feeds its own total and the threshold filter —
      // pin the partkey-sized values so the lineitem join runs once.
      val perPart = li.join(broadcast(supN),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey")).agg(sum(cents).as("v"))
        .localCheckpoint()
      perPart.crossJoin(broadcast(perPart.agg(sum(col("v")).as("tot"),
          count(lit(1)).as("np"))))
        .where(col("v") * col("np") > col("tot"))
        .select(col("l_partkey"),
          round(col("v").cast("double") / 100.0, 2).as("value"))
    }),
    // TPC-H Q15 shape (op 312, top supplier): quarterly revenue per
    // supplier, reporting the one(s) equal to the max — the
    // view + scalar-subquery pattern. Revenue stays exact DECIMAL all
    // the way through the max compare (equality on exact decimals is
    // engine-stable); the 1-row max broadcasts.
    "rel_tpch_q15" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val sup = tbl(s, dir, "supplier")
      val rev = li.where(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,8)")).as("total_rev"))
        // r14: rev feeds its own max and the equality filter — pin the
        // supplier-sized revenue so the lineitem scan runs once.
        .localCheckpoint()
      rev.crossJoin(broadcast(rev.agg(max(col("total_rev")).as("mx"))))
        .where(col("total_rev") === col("mx"))
        .join(broadcast(sup.select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_rev").cast("double"), 2).as("total_revenue"))
    }),
    // TPC-H Q16 shape (op 313, supplier-part relationships): distinct
    // suppliers per (brand, type, size) bucket for mid-size non-PROMO
    // parts off one brand, EXCLUDING a deterministic "complaints" set
    // (suppkey ≡ 0 mod 7 — no comment column exists). The
    // part-supplier catalog is the DISTINCT (partkey, suppkey) pair
    // set from lineitem (no partsupp table); the exclusion is a
    // broadcast anti join BEFORE the distinct-count agg.
    "rel_tpch_q16" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val p = tbl(s, dir, "part")
      val sup = tbl(s, dir, "supplier")
      val complained = sup.where(col("s_suppkey") % 7 === 0)
        .select(col("s_suppkey"))
      val ps = li.select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(complained),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
      ps.join(broadcast(p.where(col("p_brand") =!= "Brand#9" &&
            col("p_type") =!= "PROMO" && col("p_size") <= 10)
            .select(col("p_partkey"), col("p_brand"), col("p_type"),
              col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),
    // TPC-H Q21 shape (op 314, suppliers who kept orders waiting):
    // NATION_2 suppliers whose line in a finished (F) order shipped
    // late (>60 days after the order date) while SOME other supplier
    // contributed a line to the same order (EXISTS) and NO other
    // supplier's line in that order was late (NOT EXISTS) — the
    // double-correlated-subquery shape, decorrelated to one LeftSemi
    // + one LeftAnti on the (orderkey, suppkey) self-relation. All
    // three legs shuffle on orderkey only; the nation filter
    // broadcasts onto the supplier side first.
    "rel_tpch_q21" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val sup = tbl(s, dir, "supplier"); val n = tbl(s, dir, "nation")
      val supN = sup.join(broadcast(n.where(col("n_name") === "NATION_2")
            .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      val late = col("l_shipdate") > col("o_orderdate") +
        expr("INTERVAL 60 DAYS")
      val base = li.join(o.select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderstatus")),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("o_orderstatus") === "F")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          late.as("is_late"))
        .localCheckpoint()
      val l1 = base.where(col("is_late"))
        .join(broadcast(supN), col("sk") === col("s_suppkey"))
      val others = base.select(col("ok").as("ok2"), col("sk").as("sk2"),
        col("is_late").as("late2"))
      l1.join(others,
          col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
        .join(others.where(col("late2")),
          col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_anti")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    }),
    // TPC-H Q2 shape (op 315, minimum-cost supplier): for SMALL-type
    // size-15 parts, the ASIA supplier(s) offering the part's minimum
    // unit price — the correlated-min subquery, decorrelated into a
    // per-part min over the (part, supplier) catalog + an exact join-
    // back on the min. Unit price quantizes to integer cents BEFORE
    // any min/compare (l_quantity is integral, so price/qty is the
    // same double on both engines; the cent grid makes min/equality
    // engine-stable). Catalog = DISTINCT-agg over lineitem (no
    // partsupp table); part filter and supplier side broadcast.
    "rel_tpch_q2" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val p = tbl(s, dir, "part")
      val sup = tbl(s, dir, "supplier"); val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region")
      val asiaSup = sup.join(broadcast(
          n.join(broadcast(r.where(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name").as("nation"))
      val parts = p.where(col("p_size") === 15 && col("p_type") === "SMALL")
        .select(col("p_partkey"), col("p_brand"))
      val cost = li.join(broadcast(parts),
          col("l_partkey") === col("p_partkey"))
        .withColumn("centq", floor(col("l_extendedprice")
          / col("l_quantity") * 100.0 + 0.5).cast("long"))
        .groupBy(col("p_partkey"), col("p_brand"), col("l_suppkey"))
        .agg(min(col("centq")).as("unit_cents"))
      val wP = Window.partitionBy(col("p_partkey"))
      cost.withColumn("mn", min(col("unit_cents")).over(wP))
        .where(col("unit_cents") === col("mn"))
        .join(broadcast(asiaSup), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_brand"), col("s_name"),
          col("nation"), round(col("s_acctbal"), 2).as("s_acctbal"),
          (col("unit_cents").cast("double") / 100.0).as("unit_price"))
    }),
    // TPC-H Q20 shape (op 323, potential part promotion): EUROPE
    // suppliers holding "excess stock" of blue parts — the
    // correlated-aggregate subquery (availqty > 0.5 × qty shipped in
    // the year). No partsupp/availqty exists, so stock plays out as
    // lifetime shipped quantity per (part, supplier) pair vs 2× the
    // 1997 shipments of that pair — same correlated shape, and both
    // aggregates come out of ONE shuffle on (partkey, suppkey): the
    // windowed sum is a conditional sum inside the same groupBy, so
    // the decorrelation costs no second exchange. Quantities are
    // integral → BIGINT sums make the 2× compare engine-exact. The
    // blue-part filter broadcasts onto lineitem BEFORE the agg; the
    // qualifying suppkey set (≤ supplier count) broadcasts back as a
    // LeftSemi into the supplier dimension.
    "rel_tpch_q20" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val p = tbl(s, dir, "part")
      val sup = tbl(s, dir, "supplier"); val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region")
      val in97 = col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp")
      val q = col("l_quantity").cast("long")
      val qual = li.join(broadcast(p.where(col("p_name").startsWith("blue"))
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(q).as("life_qty"),
          sum(when(in97, q).otherwise(lit(0L))).as("q97"))
        .where(col("life_qty") > lit(2L) * col("q97"))
        .select(col("l_suppkey")).distinct()
      sup.join(broadcast(qual), col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .join(broadcast(n.join(broadcast(r.where(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("s_acctbal"), 2).as("s_acctbal"))
    }),
    // TPC-H Q22 shape (op 301, global sales opportunity): richer-
    // than-average customers DORMANT since 2000 (every custkey has
    // lifetime orders in this testdata, so the dormancy cutoff plays
    // Q22's "never ordered" role), by nation — the anti-join +
    // scalar-subquery pattern. The positive-balance average is a
    // 1-row broadcast; the date filter pushes to the orders scan
    // BEFORE the distinct+anti join on custkey; balances summed in
    // exact DECIMAL.
    "rel_tpch_q22" -> ((s, dir) => {
      val cst = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      val n = tbl(s, dir, "nation")
      // The "richer than average" membership test is division-free:
      // bal > sum/n ⟺ bal·n > sum with everything in exact DECIMAL, so
      // a balance within an ulp of the float mean can't flip membership
      // between engines (float avgs accumulate in different orders).
      val avgBal = cst.where(col("c_acctbal") > 0.0)
        .agg(sum(col("c_acctbal").cast("decimal(18,4)")).as("abn"),
          count(lit(1)).cast("decimal(18,0)").as("abd"))
      cst.crossJoin(broadcast(avgBal))
        .where(col("c_acctbal").cast("decimal(18,4)") * col("abd") >
          col("abn"))
        .join(o.where(col("o_orderdate") >=
              lit("2000-01-01").cast("timestamp"))
            .select(col("o_custkey")).distinct(),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(n.select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal").cast("decimal(30,8)"))
            .cast("double"), 2).as("totacctbal"))
    }),
    // TPC-H Q8 shape (op 298, national market share): NATION_2's
    // share of ASIA-customer PROMO revenue by order year — the
    // deepest join tree in the relational family (fact ⋈ 6 dims).
    // Every dim side broadcasts (part filter, supplier→nation name,
    // customer-nation region semi-join); the only shuffles are the
    // two fact-fact joins (lineitem⋈orders on orderkey, then on
    // custkey) and the final 7-group agg. Revenue in exact DECIMAL,
    // share as a double ratio (op-274's convention).
    "rel_tpch_q8" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer"); val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region"); val p = tbl(s, dir, "part")
      val sup = tbl(s, dir, "supplier")
      val asiaNations = n.join(
          broadcast(r.where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val custAsia = c.join(broadcast(asiaNations),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val supNation = sup.join(
          broadcast(n.select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(30,8)")
      li.join(broadcast(p.where(col("p_type") === "PROMO")
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(o.select(col("o_orderkey"), col("o_custkey"),
              year(col("o_orderdate")).cast("long").as("o_year"))
            // Broadcast SEMI-join orders against the ASIA customer keys
            // BEFORE the lineitem⋈orders shuffle: c_custkey is unique,
            // so inner ≡ semi, and the largest exchange now carries
            // ~1/5 of orders (region selectivity). Measured (BenchOne
            // min, sf0.1/local[32]): 1.41 → 1.06 s.
            .join(broadcast(custAsia),
              col("o_custkey") === col("c_custkey"), "left_semi"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(round(
            sum(when(col("supp_nation") === "NATION_2", vol)
              .otherwise(lit(0.0).cast("decimal(30,8)"))).cast("double") /
            sum(vol).cast("double"), 6).as("mkt_share"),
          count(lit(1)).as("n_items"))
    }),
    // TPC-H Q10 shape (op 229, returned-item revenue): which
    // customers returned the most revenue last quarter — the
    // customer-grain sort-limit sibling of op 205's order-grain Q3.
    // Both date bounds and the returnflag filter reach the parquet
    // scans; revenue in exact DECIMAL so the top-20 is a total order
    // (ties on c_custkey); nation broadcast.
    "rel_tpch_q10" -> ((s, dir) => {
      val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem"); val n = tbl(s, dir, "nation")
      val lo = lit("1997-10-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .join(li.where(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,8)")).as("rev"),
          count(lit(1)).as("n_items"))
        .orderBy(col("rev").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          round(col("rev").cast("double"), 2).as("revenue"), col("n_items"))
    }),
    // TPC-H Q14 shape (op 274, promotion effect): what share of one
    // month's revenue came from PROMO parts. The month filter reaches
    // the lineitem scan (PushedFilters); part is the small dim —
    // broadcast, no shuffle; both the conditional and total revenue
    // sums go through exact DECIMAL (order-free) before the one final
    // double division. The classic filtered-share aggregation.
    "rel_tpch_q14" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val pt = tbl(s, dir, "part")
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(30,8)")
      li.where(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .agg(
          round((lit(100.0) *
            sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)
              .cast("decimal(30,8)"))).cast("double") /
            sum(rev).cast("double")), 6).as("promo_revenue_pct"),
          round(sum(rev).cast("double"), 2).as("total_revenue"),
          count(lit(1)).as("n_items"))
    }),
    // TPC-H Q19 shape (op 281, discounted revenue under disjunctive
    // brand/size/quantity predicates): the OR-of-ANDs pattern that
    // exercises Catalyst's common-factor extraction — the p_brand/
    // p_size disjunction's union bound pushes to the part scan while
    // the mixed part×lineitem conjuncts evaluate post-join. part
    // broadcasts; revenue in exact DECIMAL.
    "rel_tpch_q19" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val pt = tbl(s, dir, "part")
      val pred =
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity") >= 1 && col("l_quantity") <= 11) ||
        (col("p_brand") === "Brand#14" && col("p_size").between(10, 30) &&
          col("l_quantity") >= 10 && col("l_quantity") <= 20) ||
        (col("p_brand") === "Brand#25" && col("p_size").between(20, 50) &&
          col("l_quantity") >= 20 && col("l_quantity") <= 30)
      li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .where(pred)
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,8)")).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // Explicit GROUPING SETS (op 282): the general form completing
    // rollup (op 165) and cube (op 185) — an arbitrary set list
    // ((seg, pri), (seg), (pri)) in ONE Expand+agg pass instead of
    // three self-unioned aggregations; subtotal identity is the
    // 'ALL' value (both grouping columns are non-null in the data).
    // Declared in SQL — the one grouping surface the DataFrame API
    // doesn't expose — over the same temp-view-registered loads.
    "rel_grouping_sets" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("gs_orders")
      tbl(s, dir, "customer").createOrReplaceTempView("gs_customer")
      s.sql("""SELECT coalesce(c_mktsegment, 'ALL') AS seg,
        |  coalesce(o_orderpriority, 'ALL') AS pri,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2)
        |    AS revenue,
        |  count(*) AS n_orders
        |FROM gs_orders JOIN gs_customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority),
        |                        (c_mktsegment), (o_orderpriority))""".stripMargin)
    })
  )

  // ------------------------------------------------------------ oracles

  private def coreOracles: Map[String, String] = Map(
    // Full DuckDB replay of the native t-CDF kernel (op 19,
    // reference src/lib.rs:8): the same NR §6.4 regularized
    // incomplete beta — identical branch selection, identical Lentz
    // continued fraction iterated in a recursive CTE with the same
    // FpMin clamps and the same |del−1| < 3e-16 early stop (the
    // WHERE clause), so both engines run the same float ops in the
    // same order. The only implementation divergence is lgamma
    // (DuckDB's libm vs the kernel's Lanczos, ≤1e−13 apart) —
    // absorbed by round 6. Anchor-row literals are ::DOUBLE — a bare
    // 1.0 is DECIMAL(2,1) in DuckDB and silently quantizes the whole
    // recursion state. Validated against the Scala kernel across 9
    // (t, v) probes incl. t=0, |t| large, v=1 and v≈2000: ≤1e−15.
    "eod_prob_mom" ->
      s"""WITH RECURSIVE ${R_CTE.stripPrefix("WITH ")}, p AS (
        |  SELECT rn,
        |    max(CASE WHEN event_type = 'click' THEN ret END) AS ra,
        |    max(CASE WHEN event_type = 'view' THEN ret END) AS rb
        |  FROM (
        |    SELECT event_type, ret,
        |      row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |    FROM r WHERE event_type IN ('click', 'view')
        |  ) GROUP BY rn
        |), tv AS (
        |  SELECT avg(ra - rb) / stddev_samp(ra - rb) AS t,
        |         CAST(count(ra - rb) - 1 AS DOUBLE) AS v
        |  FROM p
        |), par AS (
        |  SELECT t, v, v/2.0 AS a0, 0.5 AS b0, v/(v + t*t) AS x0 FROM tv
        |), cfp AS (
        |  SELECT *,
        |    (x0 < (a0+1.0)/(a0+b0+2.0)) AS direct,
        |    CASE WHEN x0 < (a0+1.0)/(a0+b0+2.0) THEN a0 ELSE b0 END AS ca,
        |    CASE WHEN x0 < (a0+1.0)/(a0+b0+2.0) THEN b0 ELSE a0 END AS cb,
        |    CASE WHEN x0 < (a0+1.0)/(a0+b0+2.0) THEN x0 ELSE 1.0-x0 END AS cx
        |  FROM par
        |), lentz AS (
        |  SELECT 0 AS m, 1.0::DOUBLE AS c,
        |    1.0/(CASE WHEN abs(1.0-(ca+cb)*cx/(ca+1.0)) < 1e-300 THEN 1e-300
        |              ELSE 1.0-(ca+cb)*cx/(ca+1.0) END) AS d,
        |    1.0/(CASE WHEN abs(1.0-(ca+cb)*cx/(ca+1.0)) < 1e-300 THEN 1e-300
        |              ELSE 1.0-(ca+cb)*cx/(ca+1.0) END) AS h,
        |    2.0::DOUBLE AS del, ca, cb, cx
        |  FROM cfp
        |  UNION ALL
        |  SELECT m+1, c2, d4, h2, del2, ca, cb, cx FROM (
        |    SELECT m, ca, cb, cx,
        |      1.0/(CASE WHEN abs(d3) < 1e-300 THEN 1e-300 ELSE d3 END) AS d4,
        |      c2, h1 * (1.0/(CASE WHEN abs(d3) < 1e-300 THEN 1e-300 ELSE d3 END)) * c2 AS h2,
        |      (1.0/(CASE WHEN abs(d3) < 1e-300 THEN 1e-300 ELSE d3 END)) * c2 AS del2
        |    FROM (
        |      SELECT m, ca, cb, cx, d2, h1,
        |        CASE WHEN abs(1.0 + aa2*d2) < 1e-300 THEN 1e-300 ELSE 1.0 + aa2*d2 END AS d3,
        |        CASE WHEN abs(1.0 + aa2/c1) < 1e-300 THEN 1e-300 ELSE 1.0 + aa2/c1 END AS c2
        |      FROM (
        |        SELECT m, ca, cb, cx, c1, d2, h0 * d2 * c1 AS h1,
        |          -(ca+(m+1))*(ca+cb+(m+1))*cx/((ca+2*(m+1))*(ca+1.0+2*(m+1))) AS aa2
        |        FROM (
        |          SELECT m, ca, cb, cx, h AS h0,
        |            1.0/(CASE WHEN abs(d1) < 1e-300 THEN 1e-300 ELSE d1 END) AS d2,
        |            c1
        |          FROM (
        |            SELECT m, ca, cb, cx, h,
        |              CASE WHEN abs(1.0 + aa1*d) < 1e-300 THEN 1e-300 ELSE 1.0 + aa1*d END AS d1,
        |              CASE WHEN abs(1.0 + aa1/c) < 1e-300 THEN 1e-300 ELSE 1.0 + aa1/c END AS c1
        |            FROM (
        |              SELECT m, c, d, h, ca, cb, cx,
        |                (m+1)*(cb-(m+1))*cx/((ca-1.0+2*(m+1))*(ca+2*(m+1))) AS aa1
        |              FROM lentz
        |              WHERE m < 200 AND abs(del-1.0) >= 3e-16
        |            )
        |          )
        |        )
        |      )
        |    )
        |  )
        |), cfh AS (SELECT h FROM lentz ORDER BY m DESC LIMIT 1),
        |ib AS (
        |  SELECT cfp.*,
        |    CASE WHEN x0 <= 0 THEN 0.0 WHEN x0 >= 1 THEN 1.0
        |      WHEN direct THEN exp(lgamma(a0+b0)-lgamma(a0)-lgamma(b0)+a0*ln(x0)+b0*ln(1.0-x0)) * (SELECT h FROM cfh) / a0
        |      ELSE 1.0 - exp(lgamma(a0+b0)-lgamma(a0)-lgamma(b0)+a0*ln(x0)+b0*ln(1.0-x0)) * (SELECT h FROM cfh) / b0
        |    END AS i_x
        |  FROM cfp
        |)
        |SELECT round(CASE WHEN t >= 0 THEN 1.0 - 0.5*i_x ELSE 0.5*i_x END, 6) AS prob_mom
        |FROM ib""".stripMargin,
    // prob_mom's t-statistic + df are plain SQL even though its t-CDF
    // kernel isn't — same rn-pivot as the Spark plan (unpaired rows
    // yield a null side, which avg/stddev/count drop)
    "eod_prob_mom_inputs" ->
      s"""$R_CTE, p AS (
        |  SELECT rn,
        |    max(CASE WHEN event_type = 'click' THEN ret END) AS ra,
        |    max(CASE WHEN event_type = 'view' THEN ret END) AS rb
        |  FROM (
        |    SELECT event_type, ret,
        |      row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |    FROM r WHERE event_type IN ('click', 'view')
        |  ) GROUP BY rn
        |)
        |SELECT round(avg(ra - rb) / stddev_samp(ra - rb), 6) AS t_stat,
        |  count(ra - rb) - 1 AS t_df
        |FROM p""".stripMargin,
    // streaming exact dedup replay: final state = one row per distinct
    // text digest; text_len is digest-determined so survivor identity
    // doesn't matter
    "streaming_dedup" ->
      """SELECT DISTINCT md5(text) AS digest,
        |  CAST(length(text) AS BIGINT) AS text_len
        |FROM documents ORDER BY digest""".stripMargin,
    // salted agg must equal the plain groupBy (salt = execution detail)
    "skew_salted_agg" ->
      """SELECT event_type,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_value,
        |  count(DISTINCT event_id % 1000) AS distinct_bucket
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // stream-stream time-bounded join replay: with the delay covering
    // the corpus span nothing is late-dropped, so the inner-join sink
    // equals the batch join; µs-integer comparisons on both engines
    "streaming_interval_join" ->
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
        |ORDER BY trade_id, quote_id""".stripMargin,
    // streaming windowed agg replay: once every window is flushed, the
    // append-mode stream equals the batch tumbling-window agg
    "streaming_window_agg" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    // streaming as-of replay: prevailing quote = last quote at-or-before
    // each trade in the tie-free 1 ms-per-event_id order
    "streaming_asof" ->
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
        |ORDER BY symbol, ts_us""".stripMargin,
    // streaming tick rule replay: ValueState lag(price) over the
    // tie-free event_id order
    "streaming_tick_rule" ->
      """SELECT event_type AS symbol,
        |  CAST(1712928600000000 + event_id * 1000 AS BIGINT) AS ts_us,
        |  round(value, 6) AS price,
        |  CAST(CASE WHEN value > lag(value) OVER w THEN 1
        |            WHEN value < lag(value) OVER w THEN -1
        |            ELSE 0 END AS INT) AS direction
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
        |ORDER BY symbol, ts_us""".stripMargin,
    // stateful streaming drawdown replay: the carried high-water state
    // is exactly a running max over the tie-free event_id order
    "streaming_drawdown" ->
      """WITH e AS (SELECT event_type, event_id, CAST(value AS DOUBLE) AS value
        |           FROM events WHERE value > 0)
        |SELECT event_type AS symbol,
        |  CAST(1712928600000000 + event_id * 1000 AS BIGINT) AS ts_us,
        |  round(value, 6) AS price,
        |  round(max(value) OVER w, 6) AS high_water,
        |  round(value / max(value) OVER w - 1, 6) AS drawdown
        |FROM e WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
        |ORDER BY symbol, ts_us""".stripMargin,
    "streaming_twap" ->
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
        |FROM c WHERE st > 0 ORDER BY symbol, ts_us""".stripMargin,
    // streaming running risk: the integer sums replay as cumulative
    // window sums over the same 1e-5-quantized log returns (CAST the
    // window sums — DuckDB returns HUGEINT); derived metrics use the
    // textually identical double algebra as the Spark query.
    "streaming_risk" ->
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
        |FROM f ORDER BY symbol, ts_us""".stripMargin,
    // op 294: the Page recursion reconstructed via the op-284
    // prefix-sum closed form on INTEGER cumulative windows — exact.
    "streaming_cusum" ->
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
        |FROM m ORDER BY symbol, ts_us""".stripMargin,
    // op 322: the op-294 return reconstruction (event_id order,
    // value>0), the same float-floor binning, op-320's PSI algebra.
    "streaming_psi" ->
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
        |FROM s ORDER BY event_type""".stripMargin,
    // op 224: the same ln(value/lag) sequence, the same 1e-12
    // product quantization, totals = the max-merged stream state.
    "streaming_bipower" ->
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
        |FROM d ORDER BY symbol""".stripMargin,
    // op 188: the op-146 integer state minus the tick's own
    // contribution (in-row subtraction, no extra lag), identical
    // algebra to the Spark query; the flag tests the FLOORED z.
    "streaming_zscore" ->
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
        |FROM z ORDER BY symbol, ts_us""".stripMargin,
    "eod_returns" ->
      """SELECT event_type, event_id,
        |  round(value / lag(value) OVER w - 1, 6) AS ret
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin,
    // ln guarded: Spark log(x<=0) yields NULL, DuckDB ln(0) ERRORS —
    // sf0.1 contains zero prices, so the oracle must null out like Spark
    "eod_log_returns" ->
      """SELECT event_type, event_id,
        |  round(CASE WHEN value / lag(value) OVER w > 0
        |        THEN ln(value / lag(value) OVER w) END, 6) AS log_ret
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin,
    "eod_price_index" ->
      s"""SELECT event_type, event_id,
        |  round(exp(sum(ln(1 + coalesce($SQL_SMALLRET, 0))) OVER (
        |    PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100, 4) AS price_index
        |FROM events""".stripMargin,
    "eod_rebase" ->
      """SELECT event_type, event_id,
        |  round(value / first_value(value) OVER (
        |    PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100, 6) AS rebased
        |FROM events""".stripMargin,
    "eod_drawdown" ->
      s"$DD_CTE SELECT event_type, event_id, round(dd, 6) AS drawdown FROM d",
    "eod_excess_returns" ->
      s"$R_CTE SELECT event_type, event_id, round(ret - $RF_LIT, 6) AS excess FROM r",
    "eod_deannualize" ->
      """SELECT event_type, event_id,
        |  round(pow(value / 100.0 + 1.0, 1.0 / 252) - 1.0, 6) AS deannualized
        |FROM events""".stripMargin,
    "eod_annualize" ->
      s"""SELECT event_type, event_id,
        |  round(pow($SQL_ANNRET + 1.0, 365.0 / ((event_id % 30 + 1)::DOUBLE)) - 1.0, 6) AS annualized
        |FROM events""".stripMargin,
    "eod_total_return" ->
      """SELECT event_type,
        |  round(arg_max(value, ts) / arg_min(value, ts) - 1, 6) AS total_return
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_cagr" ->
      s"""SELECT event_type,
        |  round(pow(arg_max($SQL_STABLE, ts) / arg_min($SQL_STABLE, ts),
        |    1.0 / ((epoch_us(max(ts)) - epoch_us(min(ts))) / (1e6 * 31557600.0))) - 1, 6) AS cagr
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_year_frac" ->
      """SELECT event_type,
        |  round((epoch_us(max(ts)) - epoch_us(min(ts))) / (1e6 * 31557600.0), 6) AS year_frac
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_mtd" ->
      """WITH e AS (SELECT *, max(ts) OVER (PARTITION BY event_type) AS max_ts FROM events)
        |SELECT event_type,
        |  round(arg_max(value, ts) / arg_max(
        |    CASE WHEN month(ts) != month(max_ts) OR year(ts) != year(max_ts) THEN value END,
        |    CASE WHEN month(ts) != month(max_ts) OR year(ts) != year(max_ts) THEN ts END) - 1, 6) AS mtd
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_ytd" ->
      """WITH e AS (SELECT *, max(ts) OVER (PARTITION BY event_type) AS max_ts FROM events)
        |SELECT event_type,
        |  round(arg_max(CASE WHEN year(ts) = year(max_ts) THEN value END,
        |                CASE WHEN year(ts) = year(max_ts) THEN ts END)
        |      / arg_min(CASE WHEN year(ts) = year(max_ts) THEN value END,
        |                CASE WHEN year(ts) = year(max_ts) THEN ts END) - 1, 6) AS ytd
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_sharpe" ->
      s"""$R_CTE SELECT event_type,
        |  round(avg(ret - $RF_LIT) / stddev_samp(ret - $RF_LIT) * sqrt(252.0), 6) AS sharpe
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_risk_return" ->
      s"""$R_CTE SELECT event_type,
        |  round(avg(ret) / stddev_samp(ret) * sqrt(252.0), 6) AS risk_return_ratio
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_sortino" ->
      s"""$R_CTE SELECT event_type,
        |  round(CASE WHEN stddev_samp(least(ret - ${java.lang.Double.toString(RF / NP)}, 0.0)) != 0.0
        |    THEN avg(ret - ${java.lang.Double.toString(RF / NP)})
        |         / stddev_samp(least(ret - ${java.lang.Double.toString(RF / NP)}, 0.0)) * sqrt(252.0)
        |    END, 6) AS sortino
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_information_ratio" ->
      """WITH r AS (
        |  SELECT event_type, value / lag(value) OVER w - 1 AS ret,
        |         row_number() OVER w AS rn
        |  FROM events WHERE event_type IN ('click', 'view')
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), a AS (SELECT rn, ret AS ra FROM r WHERE event_type = 'click'),
        |   b AS (SELECT rn, ret AS rb FROM r WHERE event_type = 'view')
        |SELECT round(coalesce(
        |  CASE WHEN isnan(avg(ra - rb) / stddev_samp(ra - rb)) THEN 0.0
        |       ELSE avg(ra - rb) / stddev_samp(ra - rb) END, 0.0), 6) AS ir
        |FROM a JOIN b USING (rn)""".stripMargin,
    "eod_max_drawdown" ->
      s"""$DD_CTE SELECT event_type, round(min(dd), 6) AS max_drawdown
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_ulcer_index" ->
      s"""$DD_CTE SELECT event_type, round(sqrt(avg(pow(dd * 100.0, 2.0))), 6) AS ulcer_index
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_pain_index" ->
      s"""WITH d AS (
        |  SELECT event_type, ts, value, $SQL_STABLE AS p,
        |    value / max(value) OVER w - 1 AS dd,
        |    $SQL_STABLE / max($SQL_STABLE) OVER w - 1 AS ddp
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type,
        |  round(avg(-dd), 6) + 0.0 AS pain_index,
        |  round(CASE WHEN avg(-ddp) <> 0 THEN
        |    (pow(arg_max(p, ts) / arg_min(p, ts),
        |      1.0 / ((epoch_us(max(ts)) - epoch_us(min(ts))) / (1e6 * 31557600.0))) - 1)
        |    / avg(-ddp) END, 6) + 0.0 AS pain_ratio
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_upi" ->
      """WITH d AS (
        |  SELECT event_type, event_id, ts, value,
        |         value / max(value) OVER w2 - 1 AS dd,
        |         value / lag(value) OVER w - 1 AS ret
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id),
        |         w2 AS (PARTITION BY event_type ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type,
        |  round(avg(ret) / sqrt(avg(pow(dd * 100.0, 2.0))), 6) AS upi
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_calmar" ->
      s"""WITH d AS (
        |  SELECT event_type, event_id, ts, $SQL_STABLE AS p,
        |         $SQL_STABLE / max($SQL_STABLE) OVER (
        |           PARTITION BY event_type ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS dd
        |  FROM events
        |)
        |SELECT event_type,
        |  round((pow(arg_max(p, ts) / arg_min(p, ts),
        |    1.0 / ((epoch_us(max(ts)) - epoch_us(min(ts))) / (1e6 * 31557600.0))) - 1)
        |    / abs(min(dd)), 6) AS calmar
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_infer_nperiods" ->
      """WITH d AS (
        |  SELECT event_type,
        |    (epoch_us(ts) * 1000 - lag(epoch_us(ts) * 1000) OVER w) / 1e9 AS delta_sec
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), v AS (
        |  SELECT event_type,
        |    CASE WHEN delta_sec > 1e-9 AND NOT isnan(delta_sec) THEN delta_sec END AS ds
        |  FROM d
        |)
        |SELECT event_type,
        |  CAST(CASE WHEN stddev_samp(ds) <= 1e-3 THEN
        |    CASE WHEN abs(mode(ds) - 365 * 86400.0) <= 86400.0 THEN 1
        |         WHEN abs(mode(ds) - 91 * 86400.0) <= 3 * 86400.0 THEN 4
        |         WHEN abs(mode(ds) - 30 * 86400.0) <= 3 * 86400.0 THEN 12
        |         WHEN abs(mode(ds) - 7 * 86400.0) <= 60 THEN 52
        |         WHEN abs(mode(ds) - 86400.0) <= 10 THEN 252
        |         WHEN abs(mode(ds) - 3600.0) <= 5 THEN 6048
        |         WHEN abs(mode(ds) - 60.0) <= 1 THEN 362880
        |         WHEN abs(mode(ds) - 1.0) <= 0.1 THEN 21772800
        |         WHEN mode(ds) > 0 THEN round(252.0 * 24 * 3600 / mode(ds))
        |    END END AS BIGINT) AS nperiods
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_infer_freq" ->
      """WITH d AS (
        |  SELECT event_type,
        |    (epoch_us(ts) * 1000 - lag(epoch_us(ts) * 1000) OVER w) / (86400.0 * 1e9) AS delta_days
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type,
        |  CASE WHEN stddev_samp(delta_days) IS NULL OR stddev_samp(delta_days) > 1.0 THEN 'unknown'
        |       WHEN abs(mode(delta_days) - 365.25) < 5 THEN 'yearly'
        |       WHEN abs(mode(delta_days) - 91) <= 3 THEN 'quarterly'
        |       WHEN abs(mode(delta_days) - 30) <= 3 THEN 'monthly'
        |       WHEN abs(mode(delta_days) - 7) <= 1 THEN 'weekly'
        |       WHEN abs(mode(delta_days) - 1) <= 0.1 THEN 'daily'
        |       ELSE 'unknown' END AS freq
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,

    "eod_var_cvar" ->
      s"""$R_CTE, q AS (
        |  SELECT event_type, quantile_cont(ret, 0.05) AS var5
        |  FROM r WHERE ret IS NOT NULL GROUP BY event_type
        |)
        |SELECT r.event_type,
        |  round(min(var5), 6) AS var_5,
        |  round(avg(CASE WHEN ret <= var5 THEN ret END), 6) AS cvar_5
        |FROM r JOIN q ON r.event_type = q.event_type
        |WHERE ret IS NOT NULL
        |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin,
    // op 321: same half split, same R-7 train cut, same exact
    // quantized tail sums, identical Z₂ parenthesization.
    "eod_es_backtest" ->
      s"""$R_CTE, x AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS rn,
        |    CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS qr
        |  FROM r WHERE ret IS NOT NULL
        |), tot AS (
        |  SELECT event_type, count(*) AS ntot FROM x GROUP BY event_type
        |), xr AS (
        |  SELECT x.*, ntot // 2 AS half FROM x JOIN tot USING (event_type)
        |), vt AS (
        |  SELECT event_type, quantile_cont(ret, 0.05) AS var5
        |  FROM xr WHERE rn <= half GROUP BY event_type
        |), te AS (
        |  SELECT xr.event_type, max(var5) AS var5,
        |    CAST(sum(CASE WHEN ret <= var5 THEN qr ELSE 0 END) AS BIGINT)
        |      AS tq,
        |    sum(CASE WHEN ret <= var5 THEN 1 ELSE 0 END) AS tn
        |  FROM xr JOIN vt USING (event_type)
        |  WHERE rn <= half GROUP BY xr.event_type
        |), es AS (
        |  SELECT event_type, var5,
        |    CAST(tq AS DOUBLE) / 1000000.0 / tn AS es
        |  FROM te
        |), t2 AS (
        |  SELECT xr.event_type, count(*) AS n_test,
        |    max(var5) AS var5, max(es.es) AS es,
        |    CAST(sum(CASE WHEN ret < var5 THEN qr ELSE 0 END) AS BIGINT)
        |      AS bq,
        |    CAST(sum(CASE WHEN ret < var5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_breach
        |  FROM xr JOIN es USING (event_type)
        |  WHERE rn > half GROUP BY xr.event_type
        |)
        |SELECT event_type, n_test, n_breach,
        |  round(var5, 6) AS var_train,
        |  round(es, 6) AS es_train,
        |  CASE WHEN es < 0 THEN
        |    round((CAST(bq AS DOUBLE) / 1000000.0) /
        |      (CAST(n_test AS DOUBLE) * 0.05 * es) + 1.0, 6) + 0.0
        |  END AS z2,
        |  CASE WHEN es < 0 THEN
        |    round((CAST(bq AS DOUBLE) / 1000000.0) /
        |      (CAST(n_test AS DOUBLE) * 0.05 * es) + 1.0, 6) < 0.0
        |  END AS es_underestimates_tail
        |FROM t2 ORDER BY event_type""".stripMargin,
    // op 248: the same R-7 cut, the same LR parenthesization with
    // ln(0.05)/ln(0.95) as shared round-trip literals.
    "eod_var_backtest" -> {
      val lnP = java.lang.Double.toString(math.log(0.05))
      val lnQ = java.lang.Double.toString(math.log(0.95))
      s"""$R_CTE, q AS (
        |  SELECT event_type, quantile_cont(ret, 0.05) AS var5
        |  FROM r WHERE ret IS NOT NULL GROUP BY event_type
        |), a AS (
        |  SELECT r.event_type, count(*) AS n,
        |    CAST(sum(CASE WHEN ret < var5 THEN 1 ELSE 0 END) AS BIGINT) AS n_breach
        |  FROM r JOIN q ON r.event_type = q.event_type
        |  WHERE ret IS NOT NULL GROUP BY r.event_type
        |), d AS (
        |  SELECT event_type, n, n_breach,
        |    CAST(n AS DOUBLE) AS nd, CAST(n_breach AS DOUBLE) AS xd
        |  FROM a
        |), l AS (
        |  SELECT event_type, n, n_breach, nd, xd,
        |    -2.0 * (((nd - xd) * $lnQ + xd * $lnP) -
        |      ((nd - xd) * ln(1.0 - xd / nd) +
        |       CASE WHEN n_breach > 0 THEN xd * ln(xd / nd) ELSE 0.0 END)) AS lr
        |  FROM d
        |)
        |SELECT event_type, n, n_breach, round(xd / nd, 6) AS breach_rate,
        |  round(lr, 6) + 0.0 AS lr_pof,
        |  lr > 3.841458820694124 AS reject
        |FROM l ORDER BY event_type""".stripMargin
    },
    // op 250: the same transition counts, the same guarded 0·ln0
    // terms and left-assoc LR composition.
    "eod_var_independence" ->
      s"""$R_CTE, q AS (
        |  SELECT event_type, quantile_cont(ret, 0.05) AS var5
        |  FROM r WHERE ret IS NOT NULL GROUP BY event_type
        |), b AS (
        |  SELECT r.event_type,
        |    CASE WHEN ret < var5 THEN 1 ELSE 0 END AS br,
        |    lag(CASE WHEN ret < var5 THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY r.event_type ORDER BY ts, event_id) AS pb
        |  FROM r JOIN q ON r.event_type = q.event_type
        |  WHERE ret IS NOT NULL
        |), a AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN pb = 0 AND br = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |    CAST(sum(CASE WHEN pb = 0 AND br = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN pb = 1 AND br = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN pb = 1 AND br = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
        |  FROM b WHERE pb IS NOT NULL GROUP BY event_type
        |), p AS (
        |  SELECT event_type, n00, n01, n10, n11,
        |    (CAST(n01 AS DOUBLE) + CAST(n11 AS DOUBLE)) /
        |      (CAST(n00 AS DOUBLE) + CAST(n01 AS DOUBLE) + CAST(n10 AS DOUBLE) + CAST(n11 AS DOUBLE)) AS pi,
        |    CAST(n01 AS DOUBLE) / (CAST(n00 AS DOUBLE) + CAST(n01 AS DOUBLE)) AS pi01,
        |    CAST(n11 AS DOUBLE) / (CAST(n10 AS DOUBLE) + CAST(n11 AS DOUBLE)) AS pi11
        |  FROM a
        |), l AS (
        |  SELECT event_type, n00, n01, n10, n11,
        |    -2.0 * (
        |      (CASE WHEN n00 + n10 > 0 THEN CAST(n00 + n10 AS DOUBLE) * ln(1.0 - pi) ELSE 0.0 END) +
        |      (CASE WHEN n01 + n11 > 0 THEN CAST(n01 + n11 AS DOUBLE) * ln(pi) ELSE 0.0 END) -
        |      (CASE WHEN n00 > 0 THEN CAST(n00 AS DOUBLE) * ln(1.0 - pi01) ELSE 0.0 END) -
        |      (CASE WHEN n01 > 0 THEN CAST(n01 AS DOUBLE) * ln(pi01) ELSE 0.0 END) -
        |      (CASE WHEN n10 > 0 THEN CAST(n10 AS DOUBLE) * ln(1.0 - pi11) ELSE 0.0 END) -
        |      (CASE WHEN n11 > 0 THEN CAST(n11 AS DOUBLE) * ln(pi11) ELSE 0.0 END)) AS lr
        |  FROM p
        |)
        |SELECT event_type, n00, n01, n10, n11,
        |  round(lr, 6) + 0.0 AS lr_ind,
        |  lr > 3.841458820694124 AS reject
        |FROM l ORDER BY event_type""".stripMargin,
    // op 249: the same nonzero-sign runs count and integer-count z.
    "tick_runs_test" ->
      """WITH s0 AS (
        |  SELECT event_type, ts, event_id,
        |    CASE WHEN value > lag(value) OVER w THEN 1
        |         WHEN value < lag(value) OVER w THEN -1 ELSE 0 END AS sgn
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), nz AS (
        |  SELECT event_type, sgn,
        |    lag(sgn) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
        |  FROM s0 WHERE sgn <> 0
        |), a AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND sgn <> prev THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_runs
        |  FROM nz GROUP BY event_type
        |), d AS (
        |  SELECT event_type, n_pos, n_neg, n_runs,
        |    CAST(n_pos AS DOUBLE) AS np, CAST(n_neg AS DOUBLE) AS nn
        |  FROM a
        |)
        |SELECT event_type, n_pos, n_neg, n_runs,
        |  round((CAST(n_runs AS DOUBLE) - (2.0 * np * nn / (np + nn) + 1.0)) /
        |        sqrt(2.0 * np * nn * (2.0 * np * nn - (np + nn)) /
        |             ((np + nn) * (np + nn) * ((np + nn) - 1.0))), 6) + 0.0 AS z_stat
        |FROM d ORDER BY event_type""".stripMargin,
    // op 247: the same quantized-loss order statistic and
    // 1e-9-quantized ln-ratio terms.
    "eod_hill_tail" ->
      s"""$R_CTE, lf AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(-ret * 1e6 + 0.5) AS BIGINT) AS ql
        |  FROM r WHERE ret < 0
        |), rk AS (
        |  SELECT event_type, ql,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ql DESC, event_id) AS rnk
        |  FROM lf WHERE ql > 0
        |), ref AS (SELECT event_type, ql AS qref FROM rk WHERE rnk = 51),
        |t AS (
        |  SELECT rk.event_type,
        |    CAST(floor(ln(CAST(rk.ql AS DOUBLE) / CAST(ref.qref AS DOUBLE))
        |      * 1e9 + 0.5) AS BIGINT) AS t
        |  FROM rk JOIN ref USING (event_type) WHERE rnk <= 50
        |), a AS (
        |  SELECT event_type, count(*) AS k,
        |    (CAST(sum(t) AS DOUBLE) / 1e9) / count(*) AS xi
        |  FROM t GROUP BY event_type
        |)
        |SELECT event_type, k, round(xi, 6) AS hill_xi,
        |  round(1.0 / xi, 6) + 0.0 AS tail_alpha
        |FROM a ORDER BY event_type""".stripMargin,
    // op 228: both R-7 quantile cuts, the same tail means and the
    // same gain/(−loss) parenthesization.
    "eod_rachev" ->
      s"""$R_CTE, q AS (
        |  SELECT event_type, quantile_cont(ret, 0.05) AS var5,
        |    quantile_cont(ret, 0.95) AS g95
        |  FROM r WHERE ret IS NOT NULL GROUP BY event_type
        |)
        |SELECT r.event_type,
        |  round(avg(CASE WHEN ret >= g95 THEN ret END), 6) AS gain_tail,
        |  round(avg(CASE WHEN ret <= var5 THEN ret END), 6) AS loss_tail,
        |  round(avg(CASE WHEN ret >= g95 THEN ret END) /
        |        (-avg(CASE WHEN ret <= var5 THEN ret END)), 6) + 0.0 AS rachev
        |FROM r JOIN q ON r.event_type = q.event_type
        |WHERE ret IS NOT NULL
        |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin,
    "eod_cdar" ->
      s"""$DD_CTE, q AS (
        |  SELECT event_type, quantile_cont(dd, 0.05) AS dar5
        |  FROM d GROUP BY event_type
        |)
        |SELECT d.event_type,
        |  round(min(dar5), 6) AS dar_5,
        |  round(avg(CASE WHEN dd <= dar5 THEN dd END), 6) AS cdar_5
        |FROM d JOIN q ON d.event_type = q.event_type
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "eod_omega" ->
      // nullif mirrors safeDiv: a loss-free asset is NULL on both
      // sides, not +inf on one (the gate reads NULL and NaN as NA but
      // inf as a value).
      s"""$R_CTE
        |SELECT event_type,
        |  round(sum(greatest(ret - $RF_LIT, 0)) /
        |        nullif(sum(greatest($RF_LIT - ret, 0)), 0), 6) + 0.0 AS omega
        |FROM r WHERE ret IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_kelly" ->
      s"""$R_CTE
        |SELECT event_type,
        |  round(avg(ret) / var_samp(ret), 6) + 0.0 AS kelly,
        |  round(avg(ret) / var_samp(ret) / 2.0, 6) + 0.0 AS half_kelly
        |FROM r WHERE ret IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_tail_gain" ->
      // quantile_cont = Spark percentile (R-7 interpolation); GPR on
      // floor(ret*1e6+0.5) integer sums — order-free both engines;
      // nullif mirrors safeDiv on a loss-free asset.
      s"""$R_CTE, q AS (
        |  SELECT event_type, ret,
        |    CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS q
        |  FROM r WHERE ret IS NOT NULL
        |)
        |SELECT event_type,
        |  round(abs(quantile_cont(ret, 0.95)) /
        |        nullif(abs(quantile_cont(ret, 0.05)), 0), 6) AS tail_ratio,
        |  round(CAST(sum(CASE WHEN q > 0 THEN q ELSE 0 END) AS DOUBLE) /
        |        nullif(-CAST(sum(CASE WHEN q < 0 THEN q ELSE 0 END) AS DOUBLE), 0), 6)
        |    AS gain_to_pain
        |FROM q GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_skew_kurt" ->
      s"""$R_CTE, d AS (
        |  SELECT event_type,
        |    ret - avg(ret) OVER (PARTITION BY event_type) AS d
        |  FROM r WHERE ret IS NOT NULL
        |)
        |SELECT event_type,
        |  round(avg(pow(d, 3)) / pow(avg(pow(d, 2)), 1.5), 6) AS skew,
        |  round(avg(pow(d, 4)) / pow(avg(pow(d, 2)), 2) - 3, 6) AS kurt_excess
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    // op 271: same central-moment CTE, JB from the same 1e-6-quantized
    // moments (engine-exact; see the Spark side's amplification note).
    "eod_jarque_bera" ->
      s"""$R_CTE, d AS (
        |  SELECT event_type,
        |    ret - avg(ret) OVER (PARTITION BY event_type) AS d
        |  FROM r WHERE ret IS NOT NULL
        |), m AS (
        |  SELECT event_type, count(*) AS n,
        |    round(avg(pow(d, 3)) / pow(avg(pow(d, 2)), 1.5), 6) + 0.0 AS sk,
        |    round(avg(pow(d, 4)) / pow(avg(pow(d, 2)), 2) - 3, 6) + 0.0 AS ku
        |  FROM d GROUP BY event_type
        |)
        |SELECT event_type, n,
        |  sk AS skew, ku AS kurt_excess,
        |  round(n / 6.0 * (sk * sk + ku * ku / 4.0), 6) AS jb,
        |  (n / 6.0 * (sk * sk + ku * ku / 4.0)) > 5.991464547107979 AS reject
        |FROM m ORDER BY event_type""".stripMargin,
    // op 272: identical z_cf polynomial on the same moments.
    "eod_cornish_fisher" -> {
      val z = -1.6448536269514722
      s"""$R_CTE, d AS (
        |  SELECT event_type, ret,
        |    ret - avg(ret) OVER (PARTITION BY event_type) AS d
        |  FROM r WHERE ret IS NOT NULL
        |), m AS (
        |  SELECT event_type, avg(ret) AS mu, stddev_samp(ret) AS sd,
        |    avg(pow(d, 3)) / pow(avg(pow(d, 2)), 1.5) AS sk,
        |    avg(pow(d, 4)) / pow(avg(pow(d, 2)), 2) - 3 AS ku
        |  FROM d GROUP BY event_type
        |), zc AS (
        |  SELECT event_type, mu, sd,
        |    ($z) + (${z * z - 1.0}) * sk / 6.0
        |    + (${z * z * z - 3.0 * z}) * ku / 24.0
        |    - (${2.0 * z * z * z - 5.0 * z}) * sk * sk / 36.0 AS zcf
        |  FROM m
        |)
        |SELECT event_type,
        |  round(zcf, 6) + 0.0 AS z_cf,
        |  round(mu + zcf * sd, 6) + 0.0 AS mvar_5
        |FROM zc ORDER BY event_type""".stripMargin
    },
    // op 273: arg_max daily close (order-pinned, no float sums), the
    // same i<j pairing and no-tie variance algebra.
    "eod_mann_kendall" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    arg_max(value, ts) AS close
        |  FROM events GROUP BY event_type, day
        |), x AS (
        |  SELECT event_type, close,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM d
        |), p AS (
        |  SELECT a.event_type,
        |    CASE WHEN b.close > a.close THEN 1
        |         WHEN b.close < a.close THEN -1 ELSE 0 END AS sg
        |  FROM x a JOIN x b ON a.event_type = b.event_type AND a.rn < b.rn
        |), m AS (
        |  SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_stat
        |  FROM p GROUP BY event_type
        |), c AS (
        |  SELECT event_type, count(*) AS n_days FROM d GROUP BY event_type
        |), zt AS (
        |  SELECT m.event_type, c.n_days, m.s_stat,
        |    CASE WHEN m.s_stat > 0 THEN (m.s_stat - 1.0)
        |           / sqrt(c.n_days * (c.n_days - 1.0) * (2.0 * c.n_days + 5.0) / 18.0)
        |         WHEN m.s_stat < 0 THEN (m.s_stat + 1.0)
        |           / sqrt(c.n_days * (c.n_days - 1.0) * (2.0 * c.n_days + 5.0) / 18.0)
        |         ELSE 0.0 END AS z
        |  FROM m JOIN c ON m.event_type = c.event_type
        |)
        |SELECT event_type, n_days, s_stat,
        |  round(z, 6) + 0.0 AS z_stat,
        |  CASE WHEN z > 1.959963984540054 THEN 'up'
        |       WHEN z < -1.959963984540054 THEN 'down'
        |       ELSE 'none' END AS trend
        |FROM zt ORDER BY event_type""".stripMargin,
    // op 284: same prefix-sum closed form over the same pinned order,
    // centered returns and 5σ threshold quantized to the 1e-6 grid so
    // the cumulative sums and breach compares are integer-exact.
    "eod_cusum" ->
      s"""$R_CTE, x0 AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(floor(stddev_samp(ret) OVER (PARTITION BY event_type)
        |      * 5000000.0 + 0.5) AS BIGINT) AS sdq,
        |    CAST(floor((ret - avg(ret) OVER (PARTITION BY event_type))
        |      * 1000000.0 + 0.5) AS BIGINT) AS dq
        |  FROM r WHERE ret IS NOT NULL
        |), x AS (
        |  SELECT event_type, ts, event_id, sdq,
        |    sum(dq) OVER cum AS p
        |  FROM x0
        |  WINDOW cum AS (PARTITION BY event_type ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), c AS (
        |  SELECT event_type, sdq,
        |    p - least(min(p) OVER cum, 0) AS cpos,
        |    greatest(max(p) OVER cum, 0) - p AS cneg
        |  FROM x
        |  WINDOW cum AS (PARTITION BY event_type ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type,
        |  round(max(cpos) / 1000000.0, 6) AS max_cusum_pos,
        |  round(max(cneg) / 1000000.0, 6) AS max_cusum_neg,
        |  CAST(sum(CASE WHEN cpos > sdq THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_breach_pos,
        |  CAST(sum(CASE WHEN cneg > sdq THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_breach_neg,
        |  round(min(sdq) / 1000000.0, 6) AS threshold
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // op 285: same centered lags, Bartlett weights, identical algebra.
    "eod_newey_west" ->
      s"""$R_CTE, b AS (
        |  SELECT event_type, ts, event_id, ret,
        |    ret - avg(ret) OVER (PARTITION BY event_type) AS d
        |  FROM r WHERE ret IS NOT NULL
        |), l AS (
        |  SELECT event_type, ret, d,
        |    lag(d, 1) OVER w AS l1, lag(d, 2) OVER w AS l2,
        |    lag(d, 3) OVER w AS l3, lag(d, 4) OVER w AS l4,
        |    lag(d, 5) OVER w AS l5
        |  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), a AS (
        |  SELECT event_type, count(*) AS n, avg(ret) AS mu,
        |    sum(d * d) AS g0, sum(d * l1) AS g1, sum(d * l2) AS g2,
        |    sum(d * l3) AS g3, sum(d * l4) AS g4, sum(d * l5) AS g5
        |  FROM l GROUP BY event_type
        |), m AS (
        |  SELECT event_type, n, mu, g0 / n AS gg0,
        |    g0 / n + g1 / n * (2.0 * (1.0 - 1.0 / 6.0))
        |           + g2 / n * (2.0 * (1.0 - 2.0 / 6.0))
        |           + g3 / n * (2.0 * (1.0 - 3.0 / 6.0))
        |           + g4 / n * (2.0 * (1.0 - 4.0 / 6.0))
        |           + g5 / n * (2.0 * (1.0 - 5.0 / 6.0)) AS s2
        |  FROM a
        |)
        |SELECT event_type, n,
        |  round(s2 / gg0, 6) AS nw_ratio,
        |  round(mu / sqrt(gg0 / n), 6) AS tstat_iid,
        |  round(CASE WHEN s2 > 0 THEN mu / sqrt(s2 / n) END, 6) + 0.0
        |    AS tstat_nw
        |FROM m ORDER BY event_type""".stripMargin,
    // op 303: the same md5-derived block starts (strpos base-16
    // decode = conv's arithmetic), same trim, and the same
    // prefix-sum-difference replay: returns quantized to the 1e-6
    // grid, block Σ/Σ² recovered from ≤3 exact-long prefix lookups
    // (start, end, circular wrap), so every replicate Sharpe is an
    // identical double on both engines by integer construction.
    "eod_bootstrap_sharpe" ->
      s"""$R_CTE, x AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS BIGINT) AS rn,
        |    CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS sq
        |  FROM r WHERE ret IS NOT NULL
        |), px AS (
        |  SELECT event_type, rn,
        |    CAST(sum(sq) OVER w AS BIGINT) AS ps,
        |    sum(CAST(sq AS HUGEINT) * sq) OVER w AS qs
        |  FROM x WINDOW w AS (PARTITION BY event_type ORDER BY rn
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), mm AS (
        |  SELECT event_type, CAST(max(rn) AS BIGINT) AS m,
        |    max_by(ps, rn) AS tps, max_by(qs, rn) AS tqs
        |  FROM px GROUP BY event_type
        |), bj AS (
        |  SELECT event_type, m, b, unnest(range(0,
        |    CAST(ceil(m / 50.0) AS BIGINT))) AS j
        |  FROM mm CROSS JOIN (SELECT unnest(range(1, 61)) AS b) bb
        |), st AS MATERIALIZED (
        |  -- MATERIALIZED: st feeds the 3-way UNION ALL below, and
        |  -- DuckDB 1.0's binder ICEs re-inlining the unnest chain
        |  -- at each reference ("Failed to bind column j").
        |  SELECT event_type, m, b, j,
        |    ${md5Word8Sql("event_type || '|' || CAST(b AS VARCHAR) || '|' || CAST(j AS VARCHAR)")} % m AS strt,
        |    least(50, m - j * 50) AS len
        |  FROM bj
        |), lk AS (
        |  SELECT event_type, b, m, strt AS pos, -1 AS sgn FROM st
        |  UNION ALL
        |  SELECT event_type, b, m, least(strt + len, m), 1 FROM st
        |  UNION ALL
        |  SELECT event_type, b, m, strt + len - m, 1 FROM st
        |  WHERE strt + len > m
        |), rep AS (
        |  SELECT l.event_type, b, CAST(max(m) AS BIGINT) AS n,
        |    CAST(sum(sgn * COALESCE(ps, 0)) AS BIGINT) AS sr,
        |    sum(sgn * COALESCE(qs, 0)) AS qr
        |  FROM lk l LEFT JOIN px
        |    ON l.event_type = px.event_type AND l.pos = px.rn
        |  GROUP BY l.event_type, b
        |), sh AS (
        |  SELECT event_type, b,
        |    ((CAST(sr AS DOUBLE) / 1000000.0) / n)
        |      / sqrt(((CAST(qr AS DOUBLE) / 1000000000000.0)
        |        - (CAST(sr AS DOUBLE) / 1000000.0)
        |          * (CAST(sr AS DOUBLE) / 1000000.0) / n) / (n - 1.0))
        |      * ${java.lang.Double.toString(math.sqrt(252.0))} AS sharpe
        |  FROM rep
        |), ci AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_boot,
        |    quantile_cont(sharpe, 0.05) AS lo,
        |    quantile_cont(sharpe, 0.95) AS hi
        |  FROM sh GROUP BY event_type
        |)
        |SELECT mm.event_type, n_boot,
        |  round(((CAST(tps AS DOUBLE) / 1000000.0) / m)
        |    / sqrt(((CAST(tqs AS DOUBLE) / 1000000000000.0)
        |      - (CAST(tps AS DOUBLE) / 1000000.0)
        |        * (CAST(tps AS DOUBLE) / 1000000.0) / m) / (m - 1.0))
        |    * ${java.lang.Double.toString(math.sqrt(252.0))}, 6) AS sharpe_ann,
        |  round(lo, 6) AS ci_lo,
        |  round(hi, 6) AS ci_hi
        |FROM mm JOIN ci ON mm.event_type = ci.event_type
        |ORDER BY mm.event_type""".stripMargin,
    // op 287: same closed-form OLS sums over (Δ ln p, lag ln p).
    "eod_adf" ->
      """WITH y0 AS (
        |  SELECT event_type, ts, event_id, ln(value) AS y
        |  FROM events WHERE value > 0
        |), y AS (
        |  SELECT event_type, y,
        |    lag(y) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS x
        |  FROM y0
        |), d AS (
        |  SELECT event_type, x, y - x AS dy FROM y WHERE x IS NOT NULL
        |), a AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(dy) AS sy,
        |    sum(x * x) AS sxx, sum(x * dy) AS sxy, sum(dy * dy) AS syy
        |  FROM d GROUP BY event_type
        |), m AS (
        |  SELECT event_type, n,
        |    (sxy - sx * sy / n) / (sxx - sx * sx / n) AS rho,
        |    sxx - sx * sx / n AS cxx,
        |    sxy - sx * sy / n AS cxy,
        |    syy - sy * sy / n AS cyy
        |  FROM a
        |), t AS (
        |  SELECT event_type, n, rho,
        |    rho / sqrt(((cyy - rho * cxy) / (n - 2.0)) / cxx) AS tstat
        |  FROM m
        |)
        |SELECT event_type, n, round(rho, 6) AS rho,
        |  round(tstat, 6) AS adf_tstat,
        |  round(CASE WHEN rho < 0.0 AND rho > -1.0
        |    THEN -0.6931471805599453 / ln(1.0 + rho) END, 2) + 0.0
        |    AS half_life,
        |  CASE WHEN round(tstat, 6) < -2.86 THEN 'stationary'
        |       ELSE 'unit_root' END AS verdict
        |FROM t ORDER BY event_type""".stripMargin,
    // op 288: same two OLS stages, identical residual parenthesization.
    "eod_cointegration" ->
      """WITH p0 AS (
        |  SELECT event_type, ln(value) AS y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
        |      AS rn
        |  FROM events WHERE value > 0
        |), pr AS (
        |  SELECT a.event_type AS pair_id, a.rn, a.y AS ya, b.y AS yb
        |  FROM p0 a JOIN p0 b USING (rn)
        |  WHERE a.event_type <> 'view' AND b.event_type = 'view'
        |), ols AS (
        |  SELECT pair_id, count(*) AS n, sum(ya) AS sa, sum(yb) AS sb,
        |    sum(ya * yb) AS sab, sum(yb * yb) AS sbb
        |  FROM pr GROUP BY pair_id
        |), pm AS (
        |  SELECT pair_id, n,
        |    (sab - sa * sb / n) / (sbb - sb * sb / n) AS beta,
        |    sa / n AS ma, sb / n AS mb
        |  FROM ols
        |), e AS (
        |  SELECT pr.pair_id, rn, beta, n,
        |    (ya - ma) - beta * (yb - mb) AS e
        |  FROM pr JOIN pm USING (pair_id)
        |), l AS (
        |  SELECT pair_id, beta, n, e,
        |    lag(e) OVER (PARTITION BY pair_id ORDER BY rn) AS el
        |  FROM e
        |), a AS (
        |  SELECT pair_id, max(beta) AS beta, max(n) AS n, count(*) AS m,
        |    sum(el * (e - el)) AS sed, sum(el * el) AS see,
        |    sum((e - el) * (e - el)) AS sdd
        |  FROM l WHERE el IS NOT NULL GROUP BY pair_id
        |), t AS (
        |  SELECT pair_id, n, beta, sed / see AS rho,
        |    (sed / see) /
        |      sqrt(((sdd - (sed / see) * sed) / (m - 1.0)) / see) AS tstat
        |  FROM a
        |)
        |SELECT pair_id, n, round(beta, 6) AS beta,
        |  round(rho, 6) AS rho_resid,
        |  round(tstat, 6) AS eg_tstat,
        |  CAST(CASE WHEN round(tstat, 6) < -3.34 THEN 1 ELSE 0 END AS BIGINT)
        |    AS cointegrated
        |FROM t ORDER BY pair_id""".stripMargin,
    // O(60·n) pairwise replay of the truncated-weight EWMA — an oracle
    // formulation, not a scale shape (the Spark side folds a bounded
    // trailing array instead).
    "eod_ewma_vol" ->
      s"""$R_CTE, x AS (
        |  SELECT event_type, event_id, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r WHERE ret IS NOT NULL
        |)
        |SELECT a.event_type, a.event_id,
        |  round(sqrt(sum(pow(0.94, a.rn - b.rn) * b.ret * b.ret)
        |    * (1 - 0.94) / (1 - pow(0.94, count(*)))), 6) AS ewma_vol
        |FROM x a JOIN x b
        |  ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 59 AND a.rn
        |GROUP BY a.event_type, a.event_id""".stripMargin,
    // op 397: the op-106 pairwise EWMA replay rounded to the SAME q6
    // grid, then identical lag/weight/scaled-moment algebra.
    "eod_vol_targeting" ->
      s"""$R_CTE, x AS (
        |  SELECT event_type, event_id, ts, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r WHERE ret IS NOT NULL
        |), ew AS (
        |  SELECT a.event_type, a.rn, max(a.ret) AS ret,
        |    round(sqrt(sum(pow(0.94, a.rn - b.rn) * b.ret * b.ret)
        |      * (1 - 0.94) / (1 - pow(0.94, count(*)))), 6) AS vol_q
        |  FROM x a JOIN x b
        |    ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 59 AND a.rn
        |  GROUP BY a.event_type, a.rn
        |), lagv AS (
        |  SELECT event_type, ret,
        |    CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS qr,
        |    lag(vol_q) OVER (PARTITION BY event_type ORDER BY rn) AS vol_lag
        |  FROM ew
        |), wts AS (
        |  SELECT event_type, qr,
        |    CAST(floor(least(2.0, 0.01 / vol_lag) * 1e6 + 0.5) AS BIGINT) AS wq
        |  FROM lagv WHERE vol_lag IS NOT NULL AND vol_lag > 0
        |), sc AS (
        |  SELECT event_type, wq, wq * qr AS qs FROM wts
        |)
        |SELECT event_type, count(*) AS n,
        |  floor(sum(wq)::DOUBLE / CAST(count(*) AS DOUBLE) + 0.5) / 1e6
        |    AS avg_weight,
        |  floor(CAST(sum(CAST(qs AS DECIMAL(38,0))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e6 + 0.5) / 1e6 AS mean_scaled_ret,
        |  round(sqrt(greatest(
        |    (CAST(count(*) AS DOUBLE)
        |       * CAST(sum(CAST(qs AS DECIMAL(38,0)) * CAST(qs AS DECIMAL(38,0))) AS DOUBLE)
        |     - CAST(sum(CAST(qs AS DECIMAL(38,0))) AS DOUBLE)
        |       * CAST(sum(CAST(qs AS DECIMAL(38,0))) AS DOUBLE))
        |    / (CAST(count(*) AS DOUBLE) * CAST(count(*) - 1 AS DOUBLE)),
        |    0.0)) / 1e12, 6) + 0.0 AS scaled_vol
        |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin,
    // op 295: O(60·n) pairwise replay of the truncated GARCH kernel —
    // an oracle formulation; the Spark side folds a bounded trailing
    // array. The inner join's empty frame at rn=1 mirrors the Spark
    // side's rn >= 2 filter.
    "eod_garch_filter" ->
      s"""$R_CTE, x AS (
        |  SELECT event_type, event_id, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r WHERE ret IS NOT NULL
        |)
        |SELECT a.event_type, a.event_id,
        |  round(sqrt(0.00000002 * (1 - pow(0.9, count(*))) / (1 - 0.9)
        |    + 0.08 * sum(pow(0.9, a.rn - 1 - b.rn) * b.ret * b.ret)), 8)
        |    AS garch_vol
        |FROM x a JOIN x b
        |  ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 60 AND a.rn - 1
        |GROUP BY a.event_type, a.event_id""".stripMargin,
    // op 348: the op-343 recipe with the third (seasonal) weight
    // column in the VALUES rows.
    "eod_holt_winters" -> {
      val (wl, wb, ws) = Eod.holtWintersWeights(60, 5, 0.3, 0.1, 0.2)
      val rows = (0 until 60).map(j =>
        s"(${j + 1}, ${java.lang.Double.toString(wl(j))}, " +
          s"${java.lang.Double.toString(wb(j))}, " +
          s"${java.lang.Double.toString(ws(j))})").mkString(", ")
      s"""WITH x AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events
        |), w(j, wl, wb, ws) AS (VALUES $rows),
        |s AS (
        |  SELECT a.event_type, a.event_id,
        |    CAST(sum(CAST(floor(b.value * w.wl * 1e9 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 1e9 AS ld,
        |    CAST(sum(CAST(floor(b.value * w.wb * 1e9 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 1e9 AS bd,
        |    CAST(sum(CAST(floor(b.value * w.ws * 1e9 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 1e9 AS sd
        |  FROM x a JOIN x b
        |    ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 59 AND a.rn
        |  JOIN w ON w.j = b.rn - a.rn + 60
        |  WHERE a.rn >= 60
        |  GROUP BY a.event_type, a.event_id
        |)
        |SELECT event_type, event_id,
        |  floor(ld * 1e6 + 0.5) / 1e6 AS level,
        |  floor(bd * 1e8 + 0.5) / 1e8 AS trend,
        |  floor(sd * 1e6 + 0.5) / 1e6 AS seasonal,
        |  floor((ld + 5.0 * bd + sd) * 1e6 + 0.5) / 1e6 AS forecast_5
        |FROM s""".stripMargin
    },
    // op 362: the op-343 VALUES recipe with the (level, prev-level)
    // weight pair; innovation = raw value − prev-level dot.
    "eod_kalman" -> {
      val (wl, wp) = Eod.kalmanWeights(60, 0.01, 1.0)
      val rows = (0 until 60).map(j =>
        s"(${j + 1}, ${java.lang.Double.toString(wl(j))}, " +
          s"${java.lang.Double.toString(wp(j))})").mkString(", ")
      s"""WITH x AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events
        |), w(j, wl, wp) AS (VALUES $rows),
        |s AS (
        |  SELECT a.event_type, a.event_id, min(a.value) AS value,
        |    CAST(sum(CAST(floor(b.value * w.wl * 1e9 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 1e9 AS ld,
        |    CAST(sum(CAST(floor(b.value * w.wp * 1e9 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 1e9 AS pd
        |  FROM x a JOIN x b
        |    ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 59 AND a.rn
        |  JOIN w ON w.j = b.rn - a.rn + 60
        |  WHERE a.rn >= 60
        |  GROUP BY a.event_type, a.event_id
        |)
        |SELECT event_type, event_id,
        |  floor(ld * 1e6 + 0.5) / 1e6 AS kalman_level,
        |  floor((value - pd) * 1e6 + 0.5) / 1e6 AS innovation
        |FROM s""".stripMargin
    },
    // op 352: the op-343 VALUES recipe + lead(value, 5), identical
    // quantized error aggregation.
    "eod_forecast_eval" -> {
      val (wl, wb) = Eod.holtWeights(60, 0.3, 0.1)
      val rows = (0 until 60).map(j =>
        s"(${j + 1}, ${java.lang.Double.toString(wl(j))}, " +
          s"${java.lang.Double.toString(wb(j))})").mkString(", ")
      s"""WITH x AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER w AS rn,
        |    lead(value, 5) OVER w AS realized
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), w(j, wl, wb) AS (VALUES $rows),
        |s AS (
        |  SELECT a.event_type, a.event_id, min(a.realized) AS realized,
        |    CAST(sum(CAST(floor(b.value * w.wl * 1e9 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 1e9 AS ld,
        |    CAST(sum(CAST(floor(b.value * w.wb * 1e9 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 1e9 AS bd
        |  FROM x a JOIN x b
        |    ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 59 AND a.rn
        |  JOIN w ON w.j = b.rn - a.rn + 60
        |  WHERE a.rn >= 60 AND a.realized IS NOT NULL
        |  GROUP BY a.event_type, a.event_id
        |), e AS (
        |  SELECT event_type,
        |    CAST(floor((realized - floor((ld + 5.0 * bd) * 1e6 + 0.5) / 1e6)
        |      * 1e6 + 0.5) AS BIGINT) AS eq
        |  FROM s
        |), a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(abs(eq)) AS DECIMAL(38,0)) AS sae,
        |    CAST(sum(CAST(eq AS DECIMAL(38,0)) * eq) AS DECIMAL(38,0)) AS sse,
        |    CAST(sum(eq) AS DECIMAL(38,0)) AS se
        |  FROM e GROUP BY event_type
        |)
        |SELECT event_type, n,
        |  floor(CAST(sae AS DOUBLE) / 1e6 / n * 1e6 + 0.5) / 1e6 AS mae,
        |  floor(sqrt(CAST(sse AS DOUBLE) / 1e12 / n) * 1e6 + 0.5) / 1e6
        |    AS rmse,
        |  floor(CAST(se AS DOUBLE) / 1e6 / n * 1e6 + 0.5) / 1e6 AS bias
        |FROM a ORDER BY event_type""".stripMargin
    },
    // op 343: the SAME driver-computed Holt filter weights as 60-row
    // VALUES literals (Double.toString round-trips = the Spark lits);
    // identical per-term 1e-9 quantization, unordered exact sum.
    "eod_holt" -> {
      val (wl, wb) = Eod.holtWeights(60, 0.3, 0.1)
      val rows = (0 until 60).map(j =>
        s"(${j + 1}, ${java.lang.Double.toString(wl(j))}, " +
          s"${java.lang.Double.toString(wb(j))})").mkString(", ")
      s"""WITH x AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events
        |), w(j, wl, wb) AS (VALUES $rows),
        |s AS (
        |  SELECT a.event_type, a.event_id,
        |    CAST(sum(CAST(floor(b.value * w.wl * 1e9 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 1e9 AS ld,
        |    CAST(sum(CAST(floor(b.value * w.wb * 1e9 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 1e9 AS bd
        |  FROM x a JOIN x b
        |    ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 59 AND a.rn
        |  JOIN w ON w.j = b.rn - a.rn + 60
        |  WHERE a.rn >= 60
        |  GROUP BY a.event_type, a.event_id
        |)
        |SELECT event_type, event_id,
        |  floor(ld * 1e6 + 0.5) / 1e6 AS level,
        |  floor(bd * 1e8 + 0.5) / 1e8 AS trend,
        |  floor((ld + 5.0 * bd) * 1e6 + 0.5) / 1e6 AS forecast_5
        |FROM s""".stripMargin
    },
    // op 342: O(60·n) pairwise replay of the truncated Hawkes kernel;
    // each term an exact 1e-9 long, so the unordered sum replays the
    // Spark fold bit-for-bit (LEFT JOIN keeps the empty first frame:
    // λ = μ).
    "tick_hawkes" ->
      """WITH x AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS us,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events
        |)
        |SELECT a.event_type, a.event_id,
        |  round(0.05 + 0.3 * (CAST(coalesce(sum(CAST(floor(
        |      pow(0.995, floor((a.us - b.us) / 1000000.0)) * 1e9 + 0.5)
        |      AS BIGINT)), 0) AS DOUBLE) / 1e9), 6) AS lambda
        |FROM x a LEFT JOIN x b
        |  ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 60 AND a.rn - 1
        |GROUP BY a.event_type, a.event_id""".stripMargin,
    "eod_rolling_corr" ->
      s"""$PAIRED_CTE${prefixFrameSql(60, includeXx = true)}
        |SELECT pair_id, rn,
        |  round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |        THEN (n * sxy - sx * sy)
        |             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 4)
        |    + 0.0 AS roll_corr
        |FROM d""".stripMargin,
    // prefix-sum-difference algebra, textually mirroring the Spark
    // query (the frame covar/var form is O(frame) per row at scale)
    "eod_rolling_beta" ->
      s"""$PAIRED_CTE${prefixFrameSql(60, includeXx = false)}
        |SELECT pair_id, rn,
        |  round(CASE WHEN n * syy - sy * sy <> 0
        |        THEN (n * sxy - sx * sy) / (n * syy - sy * sy) END, 4) + 0.0
        |    AS beta
        |FROM d""".stripMargin,
    "eod_capm" ->
      s"""$PAIRED_CTE, a AS (
        |  SELECT pair_id, covar_samp(ra, rb) AS cov, var_samp(rb) AS varb,
        |         avg(ra) AS ma, avg(rb) AS mb, corr(ra, rb) AS c,
        |         stddev_samp(ra - rb) AS te
        |  FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL GROUP BY pair_id
        |)
        |SELECT pair_id,
        |  round(cov / varb, 6) + 0.0 AS beta,
        |  round((ma - cov / varb * mb) * 252, 6) + 0.0 AS alpha_ann,
        |  round(c * c, 6) + 0.0 AS r2,
        |  round(te * sqrt(252.0), 6) + 0.0 AS tracking_error
        |FROM a ORDER BY pair_id""".stripMargin,
    "eod_capture" ->
      s"""$PAIRED_CTE
        |SELECT pair_id,
        |  round(avg(CASE WHEN rb > 0 THEN ra END)
        |      / avg(CASE WHEN rb > 0 THEN rb END), 6) + 0.0 AS up_capture,
        |  round(avg(CASE WHEN rb < 0 THEN ra END)
        |      / avg(CASE WHEN rb < 0 THEN rb END), 6) + 0.0 AS down_capture,
        |  round(avg(CASE WHEN ra > 0 THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS win_rate
        |FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL
        |GROUP BY pair_id ORDER BY pair_id""".stripMargin,
    "eod_treynor_m2" ->
      s"""$PAIRED_CTE
        |SELECT pair_id,
        |  round(avg(ra) * 252 / (covar_samp(ra, rb) / var_samp(rb)), 6) + 0.0
        |    AS treynor_ann,
        |  round(avg(ra) / stddev_samp(ra) * stddev_samp(rb) * 252, 6) + 0.0
        |    AS m2_ann
        |FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL
        |GROUP BY pair_id ORDER BY pair_id""".stripMargin,
    "eod_sharpe_test" ->
      s"""$PAIRED_CTE, a AS (
        |  SELECT pair_id, count(*) AS n,
        |    avg(ra) / stddev_samp(ra) AS sra,
        |    avg(rb) / stddev_samp(rb) AS srb,
        |    corr(ra, rb) AS rho
        |  FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL GROUP BY pair_id
        |)
        |SELECT pair_id, n,
        |  round(sra, 6) + 0.0 AS sr_a,
        |  round(srb, 6) + 0.0 AS sr_b,
        |  round((sra - srb) / sqrt(
        |    (2.0 * (1.0 - rho)
        |     + 0.5 * (sra * sra + srb * srb
        |              - sra * srb * (1.0 + rho * rho))) / n), 6) + 0.0
        |    AS z_stat
        |FROM a ORDER BY pair_id""".stripMargin,
    // op 209: same lag columns, same left-associated weighted ρ sum,
    // same (srp · 252)/√(252 + 2Σ) parenthesization.
    "eod_sharpe_adj" ->
      (s"""$R_CTE, l AS (
        |  SELECT event_type, ret,
        |""".stripMargin +
        (1 to 5).map(k => s"    lag(ret, $k) OVER w AS l$k").mkString(",\n") +
        s"""
        |  FROM r WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), a AS (
        |  SELECT event_type, count(ret) AS n,
        |    avg(ret - $RF_LIT) / stddev_samp(ret - $RF_LIT) AS srp,
        |    ((((251.0 * corr(ret, l1) + 250.0 * corr(ret, l2))
        |       + 249.0 * corr(ret, l3)) + 248.0 * corr(ret, l4))
        |       + 247.0 * corr(ret, l5)) AS rs
        |  FROM l GROUP BY event_type
        |)
        |SELECT event_type, n,
        |  round(srp * ${java.lang.Double.toString(math.sqrt(252.0))}, 6) + 0.0 AS sharpe_iid,
        |  round(srp * 252.0 / sqrt(252.0 + 2.0 * rs), 6) + 0.0 AS sharpe_adj
        |FROM a ORDER BY event_type""".stripMargin),
    // op 239: the same quantized-sign condition and conditional
    // DECIMAL sums, the same β double algebra per side.
    "eod_downside_capm" ->
      s"""$PAIRED_CTE, qd AS (
        |  SELECT pair_id,
        |    CAST(floor(ra * 1e6 + 0.5) AS BIGINT) AS qa,
        |    CAST(floor(rb * 1e6 + 0.5) AS BIGINT) AS qb
        |  FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL
        |), a AS (
        |  SELECT pair_id,
        |    CAST(sum(CASE WHEN qb < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dn,
        |    sum(CASE WHEN qb < 0 THEN qa END) AS sa_dn,
        |    sum(CASE WHEN qb < 0 THEN qb END) AS sb_dn,
        |    sum(CASE WHEN qb < 0 THEN CAST(qa AS DECIMAL(19,0)) * CAST(qb AS DECIMAL(19,0)) END) AS sab_dn,
        |    sum(CASE WHEN qb < 0 THEN CAST(qb AS DECIMAL(19,0)) * CAST(qb AS DECIMAL(19,0)) END) AS sbb_dn,
        |    CAST(sum(CASE WHEN qb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
        |    sum(CASE WHEN qb > 0 THEN qa END) AS sa_up,
        |    sum(CASE WHEN qb > 0 THEN qb END) AS sb_up,
        |    sum(CASE WHEN qb > 0 THEN CAST(qa AS DECIMAL(19,0)) * CAST(qb AS DECIMAL(19,0)) END) AS sab_up,
        |    sum(CASE WHEN qb > 0 THEN CAST(qb AS DECIMAL(19,0)) * CAST(qb AS DECIMAL(19,0)) END) AS sbb_up
        |  FROM qd GROUP BY pair_id
        |), b AS (
        |  SELECT pair_id, n_dn, n_up,
        |    (CAST(n_dn AS DOUBLE) * CAST(sab_dn AS DOUBLE) - CAST(sa_dn AS DOUBLE) * CAST(sb_dn AS DOUBLE))
        |      / (CAST(n_dn AS DOUBLE) * CAST(sbb_dn AS DOUBLE) - CAST(sb_dn AS DOUBLE) * CAST(sb_dn AS DOUBLE)) AS bd,
        |    (CAST(n_up AS DOUBLE) * CAST(sab_up AS DOUBLE) - CAST(sa_up AS DOUBLE) * CAST(sb_up AS DOUBLE))
        |      / (CAST(n_up AS DOUBLE) * CAST(sbb_up AS DOUBLE) - CAST(sb_up AS DOUBLE) * CAST(sb_up AS DOUBLE)) AS bu
        |  FROM a
        |)
        |SELECT pair_id, n_dn, n_up,
        |  round(bd, 6) + 0.0 AS beta_down,
        |  round(bu, 6) + 0.0 AS beta_up,
        |  round(CASE WHEN bu <> 0.0 THEN bd / bu END, 6) + 0.0 AS beta_ratio
        |FROM b ORDER BY pair_id""".stripMargin,
    // op 226: the same 1e-6 quantization, DECIMAL(19,0)² product
    // sums, and the identical Cramer expansion order.
    "eod_hm_timing" ->
      s"""$PAIRED_CTE, qd AS (
        |  SELECT pair_id,
        |    CAST(floor(ra * 1e6 + 0.5) AS BIGINT) AS ya,
        |    CAST(floor(rb * 1e6 + 0.5) AS BIGINT) AS x1,
        |    greatest(CAST(floor(rb * 1e6 + 0.5) AS BIGINT), 0) AS x2
        |  FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL
        |), a AS (
        |  SELECT pair_id, count(*) AS n,
        |    sum(x1) AS s1, sum(x2) AS s2, sum(ya) AS sy,
        |    sum(CAST(x1 AS DECIMAL(19,0)) * CAST(x1 AS DECIMAL(19,0))) AS s11,
        |    sum(CAST(x1 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))) AS s12,
        |    sum(CAST(x2 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))) AS s22,
        |    sum(CAST(x1 AS DECIMAL(19,0)) * CAST(ya AS DECIMAL(19,0))) AS s1y,
        |    sum(CAST(x2 AS DECIMAL(19,0)) * CAST(ya AS DECIMAL(19,0))) AS s2y
        |  FROM qd GROUP BY pair_id
        |), dd AS (
        |  SELECT pair_id, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
        |    CAST(s2 AS DOUBLE) AS s2d, CAST(sy AS DOUBLE) AS syd,
        |    CAST(s11 AS DOUBLE) AS s11d, CAST(s12 AS DOUBLE) AS s12d,
        |    CAST(s22 AS DOUBLE) AS s22d, CAST(s1y AS DOUBLE) AS s1yd,
        |    CAST(s2y AS DOUBLE) AS s2yd
        |  FROM a
        |), det AS (
        |  SELECT pair_id, n,
        |    nd * (s11d * s22d - s12d * s12d) -
        |      s1d * (s1d * s22d - s12d * s2d) +
        |      s2d * (s1d * s12d - s11d * s2d) AS det0,
        |    syd * (s11d * s22d - s12d * s12d) -
        |      s1d * (s1yd * s22d - s12d * s2yd) +
        |      s2d * (s1yd * s12d - s11d * s2yd) AS deta,
        |    nd * (s1yd * s22d - s12d * s2yd) -
        |      syd * (s1d * s22d - s12d * s2d) +
        |      s2d * (s1d * s2yd - s1yd * s2d) AS detb,
        |    nd * (s11d * s2yd - s1yd * s12d) -
        |      s1d * (s1d * s2yd - s1yd * s2d) +
        |      syd * (s1d * s12d - s11d * s2d) AS detg
        |  FROM dd
        |)
        |SELECT pair_id, n,
        |  round(CASE WHEN det0 <> 0.0 THEN deta / det0 / 1e6 END, 9) + 0.0 AS alpha,
        |  round(CASE WHEN det0 <> 0.0 THEN detb / det0 END, 6) + 0.0 AS beta,
        |  round(CASE WHEN det0 <> 0.0 THEN detg / det0 END, 6) + 0.0 AS gamma
        |FROM det ORDER BY pair_id""".stripMargin,
    // op 377: the op-249 Cramer chain with x2 = floor(rb²·1e6 + ½)
    // (the square quantized directly — see the Spark-side comment).
    "eod_treynor_mazuy" ->
      s"""$PAIRED_CTE, qd AS (
        |  SELECT pair_id,
        |    CAST(floor(ra * 1e6 + 0.5) AS BIGINT) AS ya,
        |    CAST(floor(rb * 1e6 + 0.5) AS BIGINT) AS x1,
        |    CAST(floor(rb * rb * 1e6 + 0.5) AS BIGINT) AS x2
        |  FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL
        |), a AS (
        |  SELECT pair_id, count(*) AS n,
        |    sum(x1) AS s1, sum(CAST(x2 AS DECIMAL(19,0))) AS s2, sum(ya) AS sy,
        |    sum(CAST(x1 AS DECIMAL(19,0)) * CAST(x1 AS DECIMAL(19,0))) AS s11,
        |    sum(CAST(x1 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))) AS s12,
        |    sum(CAST(x2 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))) AS s22,
        |    sum(CAST(x1 AS DECIMAL(19,0)) * CAST(ya AS DECIMAL(19,0))) AS s1y,
        |    sum(CAST(x2 AS DECIMAL(19,0)) * CAST(ya AS DECIMAL(19,0))) AS s2y
        |  FROM qd GROUP BY pair_id
        |), dd AS (
        |  SELECT pair_id, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
        |    CAST(s2 AS DOUBLE) AS s2d, CAST(sy AS DOUBLE) AS syd,
        |    CAST(s11 AS DOUBLE) AS s11d, CAST(s12 AS DOUBLE) AS s12d,
        |    CAST(s22 AS DOUBLE) AS s22d, CAST(s1y AS DOUBLE) AS s1yd,
        |    CAST(s2y AS DOUBLE) AS s2yd
        |  FROM a
        |), det AS (
        |  SELECT pair_id, n,
        |    nd * (s11d * s22d - s12d * s12d) -
        |      s1d * (s1d * s22d - s12d * s2d) +
        |      s2d * (s1d * s12d - s11d * s2d) AS det0,
        |    syd * (s11d * s22d - s12d * s12d) -
        |      s1d * (s1yd * s22d - s12d * s2yd) +
        |      s2d * (s1yd * s12d - s11d * s2yd) AS deta,
        |    nd * (s1yd * s22d - s12d * s2yd) -
        |      syd * (s1d * s22d - s12d * s2d) +
        |      s2d * (s1d * s2yd - s1yd * s2d) AS detb,
        |    nd * (s11d * s2yd - s1yd * s12d) -
        |      s1d * (s1d * s2yd - s1yd * s2d) +
        |      syd * (s1d * s12d - s11d * s2d) AS detg
        |  FROM dd
        |)
        |SELECT pair_id, n,
        |  round(CASE WHEN det0 <> 0.0 THEN deta / det0 / 1e6 END, 9) + 0.0 AS alpha,
        |  round(CASE WHEN det0 <> 0.0 THEN detb / det0 END, 6) + 0.0 AS beta,
        |  round(CASE WHEN det0 <> 0.0 THEN detg / det0 END, 6) + 0.0 AS gamma
        |FROM det ORDER BY pair_id""".stripMargin,
    // op 376: exact-moment σ quantized onto the grid, then pure
    // integer band counts — the same algebra as the Spark side.
    "eod_bias_ratio" ->
      s"""$R_CTE, q AS (
        |  SELECT event_type, CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS qr
        |  FROM r WHERE ret IS NOT NULL
        |), m AS (
        |  SELECT event_type, count(*) AS n, sum(qr) AS sq,
        |    sum(CAST(qr AS DECIMAL(38,0)) * CAST(qr AS DECIMAL(38,0))) AS sq2
        |  FROM q GROUP BY event_type
        |), sig AS (
        |  SELECT event_type, n,
        |    CAST(floor(sqrt(greatest(
        |      (CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)
        |        - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)),
        |      0.0)) + 0.5) AS BIGINT) AS qsig
        |  FROM m
        |)
        |SELECT q.event_type, max(sig.n) AS n,
        |  max(qsig)::DOUBLE / 1e6 AS sigma,
        |  CAST(sum(CASE WHEN qr >= 0 AND qr <= qsig THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_up_band,
        |  CAST(sum(CASE WHEN qr >= -qsig AND qr < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dn_band,
        |  floor(sum(CASE WHEN qr >= 0 AND qr <= qsig THEN 1 ELSE 0 END)::DOUBLE
        |    / (1.0 + sum(CASE WHEN qr >= -qsig AND qr < 0 THEN 1 ELSE 0 END)::DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS bias_ratio
        |FROM q JOIN sig USING (event_type)
        |GROUP BY q.event_type ORDER BY q.event_type""".stripMargin,
    // op 386: the op-284 replay order (event_id, value>0), sign
    // islands via the standard double-row_number trick, running
    // maxima over the island-position prefix.
    "streaming_streaks" ->
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
        |ORDER BY symbol, ts_us""".stripMargin,
    // op 210: min/max only; the day leg replays the op-135 arg_max
    // day-eop kernel.
    "eod_extremes" ->
      s"""$R_CTE, t AS (
        |  SELECT event_type, round(max(ret), 6) + 0.0 AS best_tick,
        |         round(min(ret), 6) + 0.0 AS worst_tick
        |  FROM r GROUP BY event_type
        |), m AS (
        |  SELECT event_type, year(ts) AS yr, month(ts) AS mo,
        |         day(ts) AS dy, arg_max(value, ts) AS eop
        |  FROM events GROUP BY 1, 2, 3, 4
        |), d AS (
        |  SELECT event_type, eop / lag(eop, 1) OVER (
        |    PARTITION BY event_type ORDER BY yr, mo, dy) - 1 AS dret
        |  FROM m
        |), dd AS (
        |  SELECT event_type, round(max(dret), 6) + 0.0 AS best_day,
        |         round(min(dret), 6) + 0.0 AS worst_day
        |  FROM d GROUP BY event_type
        |)
        |SELECT t.event_type, best_tick, worst_tick, best_day, worst_day
        |FROM t JOIN dd ON t.event_type = dd.event_type
        |ORDER BY t.event_type""".stripMargin,
    "eod_ljung_box" ->
      (s"""$R_CTE, l AS (
        |  SELECT event_type, ret,
        |""".stripMargin +
        (1 to 5).map(k => s"    lag(ret, $k) OVER w AS l$k").mkString(",\n") +
        """
        |  FROM r WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, count(ret) AS n_obs,
        |  round(count(ret)::DOUBLE * (count(ret)::DOUBLE + 2.0) * (
        |""".stripMargin +
        (1 to 5).map(k =>
          s"    pow(corr(ret, l$k), 2) / (count(ret)::DOUBLE - $k)")
          .mkString(" +\n") +
        """
        |  ), 6) + 0.0 AS lb_q
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_portfolio" ->
      s"""$R_CTE, s AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r
        |), pc AS (
        |  SELECT 'core' AS port_id, rn, avg(ret) AS pret
        |  FROM s WHERE ret IS NOT NULL AND event_type <> 'error'
        |  GROUP BY rn HAVING count(*) = 4
        |), pe AS (
        |  SELECT 'ew' AS port_id, rn, avg(ret) AS pret
        |  FROM s WHERE ret IS NOT NULL
        |  GROUP BY rn HAVING count(*) = 5
        |), p AS (SELECT * FROM pc UNION ALL SELECT * FROM pe),
        |c AS (
        |  SELECT port_id, rn, pret,
        |    sum(CASE WHEN pret + 1.0 > 0.0 THEN ln(pret + 1.0) END) OVER cum AS cl
        |  FROM p WINDOW cum AS (PARTITION BY port_id ORDER BY rn
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), d AS (
        |  SELECT port_id, rn, pret, cl,
        |    cl - max(cl) OVER cum AS ddl
        |  FROM c WINDOW cum AS (PARTITION BY port_id ORDER BY rn
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT port_id, count(*) AS n_periods,
        |  round(avg(pret) / stddev_samp(pret) * sqrt(252.0), 6) + 0.0 AS sharpe_ann,
        |  round(arg_max(cl, rn), 6) + 0.0 AS total_log_return,
        |  round(min(ddl), 6) + 0.0 AS max_drawdown_log
        |FROM d GROUP BY port_id ORDER BY port_id""".stripMargin,
    // weighted + rebalance-calendar twin (op 152): identical drift
    // algebra — per-leg ln w + block-cum Σln(1+r), max-shifted LSE
    // cross-section, Δlv per block, op-151 summary. Keep in lockstep
    // with the Spark query.
    "eod_portfolio_weighted" ->
      s"""$R_CTE, f AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r WHERE ret IS NOT NULL AND event_type <> 'error'
        |), cfull AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY rn) AS nm FROM f
        |  ) WHERE nm = 4
        |), idx AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY rn) AS i
        |  FROM cfull
        |), v AS (
        |  SELECT 'rebal21' AS port_id,
        |    CAST(floor((i - 1) / 21.0) AS BIGINT) AS blk, event_type, ret, i
        |  FROM idx
        |  UNION ALL
        |  SELECT 'buyhold', 0, event_type, ret, i FROM idx
        |), wtab AS (
        |  SELECT * FROM (VALUES ('click', 0.4), ('purchase', 0.3),
        |    ('signup', 0.2), ('view', 0.1)) AS t(event_type, w)
        |), a AS (
        |  SELECT port_id, blk, i,
        |    ln(w) + sum(ln(ret + 1.0)) OVER (
        |      PARTITION BY port_id, event_type, blk ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ai
        |  FROM v JOIN wtab USING (event_type)
        |), l AS (
        |  SELECT port_id, blk, i, mx + ln(sum(exp(ai - mx))) AS lv FROM (
        |    SELECT *, max(ai) OVER (PARTITION BY port_id, i) AS mx FROM a
        |  ) GROUP BY port_id, blk, i, mx
        |), d2 AS (
        |  SELECT port_id, blk, i,
        |    lv - coalesce(lag(lv, 1) OVER (PARTITION BY port_id, blk ORDER BY i), 0.0) AS dlv
        |  FROM l
        |), cml AS (
        |  SELECT port_id, blk, i, exp(dlv) - 1.0 AS pret,
        |    sum(dlv) OVER cum AS cl
        |  FROM d2 WINDOW cum AS (PARTITION BY port_id ORDER BY i
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), dd2 AS (
        |  SELECT *, cl - max(cl) OVER cum AS ddl
        |  FROM cml WINDOW cum AS (PARTITION BY port_id ORDER BY i
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT port_id, count(*) AS n_periods,
        |  count(DISTINCT blk) AS n_rebalances,
        |  round(avg(pret) / stddev_samp(pret) * sqrt(252.0), 6) + 0.0 AS sharpe_ann,
        |  round(arg_max(cl, i), 6) + 0.0 AS total_log_return,
        |  round(min(ddl), 6) + 0.0 AS max_drawdown_log
        |FROM dd2 GROUP BY port_id ORDER BY port_id""".stripMargin,
    // op 199: same drift CTEs as the weighted portfolio (rebal21
    // only), block-end LSE, 1e-6-quantized deviations.
    "eod_turnover" ->
      s"""$R_CTE, f AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r WHERE ret IS NOT NULL AND event_type <> 'error'
        |), cfull AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY rn) AS nm FROM f
        |  ) WHERE nm = 4
        |), idx AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY rn) AS i
        |  FROM cfull
        |), b AS (
        |  SELECT event_type, ret, i,
        |    CAST(floor((i - 1) / 21.0) AS BIGINT) AS blk
        |  FROM idx
        |), wtab AS (
        |  SELECT * FROM (VALUES ('click', 0.4), ('purchase', 0.3),
        |    ('signup', 0.2), ('view', 0.1)) AS t(event_type, w)
        |), a AS (
        |  SELECT event_type, blk, i, w,
        |    (CASE WHEN event_type = 'click' THEN -916290732 WHEN event_type = 'purchase' THEN -1203972804 WHEN event_type = 'signup' THEN -1609437912 WHEN event_type = 'view' THEN -2302585093 END)
        |    + CAST(sum(CAST(floor(ln(ret + 1.0) * 1e9 + 0.5) AS BIGINT)) OVER (
        |      PARTITION BY event_type, blk ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS aiq
        |  FROM b JOIN wtab USING (event_type)
        |), endr AS (
        |  SELECT * FROM (
        |    SELECT *, max(i) OVER (PARTITION BY blk) AS imax FROM a
        |  ) WHERE i = imax
        |), m1 AS (
        |  SELECT *, max(aiq) OVER (PARTITION BY blk) AS mxq FROM endr
        |), m1b AS (
        |  SELECT *, CAST(floor(exp(CAST(aiq - mxq AS DOUBLE) / 1e9) * 1e9 + 0.5) AS BIGINT) AS eq
        |  FROM m1
        |), t2 AS (
        |  SELECT blk,
        |    CAST(floor(abs(w - CAST(eq AS DOUBLE)
        |      / CAST(sum(eq) OVER (PARTITION BY blk) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS dq
        |  FROM m1b
        |)
        |SELECT blk, count(*) AS n_assets,
        |  floor(CAST(sum(dq) AS DOUBLE) / 2.0 + 0.5) / 1e6 AS turnover
        |FROM t2 GROUP BY blk ORDER BY blk""".stripMargin,
    // op 200: same integer block log sums, same quantized block
    // returns, exact integer benchmark mean, floor-quantized output.
    "eod_brinson" ->
      s"""$R_CTE, f AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r WHERE ret IS NOT NULL AND event_type <> 'error'
        |), cfull AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY rn) AS nm FROM f
        |  ) WHERE nm = 4
        |), idx AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY rn) AS i
        |  FROM cfull
        |), br AS (
        |  SELECT event_type, CAST(floor((i - 1) / 21.0) AS BIGINT) AS blk,
        |    CAST(sum(CAST(floor(ln(ret + 1.0) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS slq
        |  FROM idx GROUP BY 1, 2
        |), ra AS (
        |  SELECT event_type, blk,
        |    CAST(floor((exp(CAST(slq AS DOUBLE) / 1e9) - 1.0) * 1e6 + 0.5) AS BIGINT) AS raq
        |  FROM br
        |), wtab AS (
        |  SELECT * FROM (VALUES ('click', 0.4), ('purchase', 0.3),
        |    ('signup', 0.2), ('view', 0.1)) AS t(event_type, w)
        |), j AS (
        |  SELECT blk, event_type, w, raq,
        |    CAST(sum(raq) OVER (PARTITION BY blk) AS BIGINT) AS rbq
        |  FROM ra JOIN wtab USING (event_type)
        |)
        |SELECT blk, event_type, w::DOUBLE - 0.25 AS active_w,
        |  raq / 1e6 AS block_ret,
        |  floor((w::DOUBLE - 0.25) * (raq / 1e6 - CAST(rbq AS DOUBLE) / 4e6)
        |        * 1e6 + 0.5) / 1e6 AS alloc_contrib
        |FROM j ORDER BY blk, event_type""".stripMargin,
    "eod_capm_multi" ->
      s"""$R_CTE, s AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r
        |), p AS (
        |  SELECT a.event_type AS pair_id, b.event_type AS bench_id, a.rn,
        |         a.ret AS ra, b.ret AS rb
        |  FROM s a JOIN s b USING (rn)
        |  WHERE a.event_type NOT IN ('view', 'click')
        |    AND b.event_type IN ('view', 'click')
        |), g AS (
        |  SELECT pair_id, bench_id, covar_samp(ra, rb) AS cov,
        |         var_samp(rb) AS varb, avg(ra) AS ma, avg(rb) AS mb,
        |         corr(ra, rb) AS c, stddev_samp(ra - rb) AS te
        |  FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT pair_id, bench_id,
        |  round(cov / varb, 6) + 0.0 AS beta,
        |  round((ma - cov / varb * mb) * 252, 6) + 0.0 AS alpha_ann,
        |  round(c * c, 6) + 0.0 AS r2,
        |  round(te * sqrt(252.0), 6) + 0.0 AS tracking_error
        |FROM g ORDER BY pair_id, bench_id""".stripMargin,
    // prefix-sum twin of Eod.rollingUpCapture/DownCapture/WinRate
    // (identical masked cumulative sums + lag-difference algebra; keep
    // in lockstep).
    "eod_rolling_capture" ->
      s"""$PAIRED_CTE, c AS (
        |  SELECT pair_id, rn,
        |    row_number() OVER wp AS i,
        |    sum(CASE WHEN rb > 0 THEN ra ELSE 0.0 END) OVER cum AS cua,
        |    sum(CASE WHEN rb > 0 THEN rb ELSE 0.0 END) OVER cum AS cub,
        |    sum(CASE WHEN rb > 0 THEN 1.0 ELSE 0.0 END) OVER cum AS cun,
        |    sum(CASE WHEN rb < 0 THEN ra ELSE 0.0 END) OVER cum AS cda,
        |    sum(CASE WHEN rb < 0 THEN rb ELSE 0.0 END) OVER cum AS cdb,
        |    sum(CASE WHEN rb < 0 THEN 1.0 ELSE 0.0 END) OVER cum AS cdn,
        |    sum(CASE WHEN ra > 0 THEN 1.0 ELSE 0.0 END) OVER cum AS cw
        |  FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL
        |  WINDOW wp AS (PARTITION BY pair_id ORDER BY rn),
        |         cum AS (PARTITION BY pair_id ORDER BY rn
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), d AS (
        |  SELECT pair_id, rn, CAST(least(i, 60) AS DOUBLE) AS n,
        |    cua - coalesce(lag(cua, 60) OVER wp2, 0.0) AS sua,
        |    cub - coalesce(lag(cub, 60) OVER wp2, 0.0) AS sub,
        |    cun - coalesce(lag(cun, 60) OVER wp2, 0.0) AS sun,
        |    cda - coalesce(lag(cda, 60) OVER wp2, 0.0) AS sda,
        |    cdb - coalesce(lag(cdb, 60) OVER wp2, 0.0) AS sdb,
        |    cdn - coalesce(lag(cdn, 60) OVER wp2, 0.0) AS sdn,
        |    cw - coalesce(lag(cw, 60) OVER wp2, 0.0) AS sw
        |  FROM c WINDOW wp2 AS (PARTITION BY pair_id ORDER BY rn)
        |)
        |SELECT pair_id, rn,
        |  round(CASE WHEN sun > 0 THEN sua / sub END, 4) + 0.0 AS up_capture,
        |  round(CASE WHEN sdn > 0 THEN sda / sdb END, 4) + 0.0 AS down_capture,
        |  round(sw / n, 4) + 0.0 AS win_rate
        |FROM d""".stripMargin,
    "eod_return_table" ->
      """WITH m AS (
        |  SELECT event_type, year(ts) AS yr, month(ts) AS mo,
        |         day(ts) AS dy, arg_max(value, ts) AS eop
        |  FROM events GROUP BY 1, 2, 3, 4
        |)
        |SELECT event_type, yr, mo, dy,
        |  round(eop / lag(eop) OVER (PARTITION BY event_type
        |                             ORDER BY yr, mo, dy) - 1, 6) + 0.0
        |    AS period_ret
        |FROM m ORDER BY event_type, yr, mo, dy""".stripMargin,
    "eod_seasonality" ->
      s"""$R_CTE
        |SELECT event_type, CAST(isodow(ts) AS INT) AS dow, count(*) AS n,
        |  floor(CAST(sum(CAST(floor(ret * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / count(*) + 0.5) / 1e6 AS mean_ret,
        |  round(sum(CASE WHEN ret > 0 THEN 1.0 ELSE 0.0 END) / count(*), 6)
        |    AS hit_rate
        |FROM r WHERE ret IS NOT NULL
        |GROUP BY event_type, dow ORDER BY event_type, dow""".stripMargin,
    "eod_resample_period" ->
      """WITH m AS (
        |  SELECT event_type, date_trunc('week', ts) AS period,
        |         arg_max(value, ts) AS eop
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, epoch_us(period) AS period_us,
        |  round(eop, 6) AS eop,
        |  round(eop / lag(eop) OVER (PARTITION BY event_type
        |                             ORDER BY period) - 1, 6) + 0.0 AS period_ret
        |FROM m ORDER BY event_type, period_us""".stripMargin,
    // Episode ids: running count of at-high rows (dd >= 0) — every
    // underwater run keeps the id of the high that preceded it.
    // Ordered-aggregate first/last mirror Spark's min_by/max_by over
    // the same lexicographic keys.
    "eod_drawdown_details" ->
      """WITH d AS (
        |  SELECT event_type, event_id, ts,
        |    round(value / max(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1, 6) AS dd,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n_series
        |  FROM events
        |), g AS (
        |  SELECT *, CAST(sum(CASE WHEN dd >= 0 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY event_type ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS episode
        |  FROM d
        |)
        |SELECT event_type, episode,
        |  first(event_id ORDER BY ts, event_id) AS start_id,
        |  first(event_id ORDER BY dd, ts, event_id) AS trough_id,
        |  last(event_id ORDER BY ts, event_id) AS end_id,
        |  count(*) AS n_obs,
        |  min(dd) AS depth,
        |  max(rn) < max(n_series) AS recovered
        |FROM g WHERE dd < 0
        |GROUP BY event_type, episode
        |ORDER BY event_type, episode""".stripMargin,
    "eod_lookback_returns" ->
      // max_by FILTER mirrors the null-order-key guard; ties on a
      // shared max ts cannot occur (ts, event_id) is unique per type.
      """WITH e AS (
        |  SELECT event_type, ts, value,
        |    max(ts) OVER (PARTITION BY event_type) AS end_ts
        |  FROM events
        |)
        |SELECT event_type,
        |  round(max_by(value, ts) /
        |    max_by(value, ts) FILTER (WHERE ts <= end_ts - INTERVAL 7 DAY) - 1, 6) AS ret_1w,
        |  round(max_by(value, ts) /
        |    max_by(value, ts) FILTER (WHERE ts <= end_ts - INTERVAL 14 DAY) - 1, 6) AS ret_2w
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_long_short" ->
      s"""$R_CTE, x AS (
        |  SELECT event_type, ret,
        |    row_number() OVER w2 AS rn,
        |    lag(ret) OVER w2 AS sig
        |  FROM r WHERE ret IS NOT NULL
        |  WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY rn ORDER BY sig DESC, event_type) AS srank,
        |    count(*) OVER (PARTITION BY rn) AS na
        |  FROM x WHERE sig IS NOT NULL
        |), ls AS (
        |  SELECT rn,
        |    CAST(floor((avg(CASE WHEN srank <= 2 THEN ret END) -
        |                avg(CASE WHEN srank >= 4 THEN ret END)) * 1e6 + 0.5) AS BIGINT) AS qls
        |  FROM rk WHERE na = 5 GROUP BY rn
        |)
        |SELECT count(*) AS n_periods,
        |  floor(CAST(sum(qls) AS DOUBLE) / count(*) + 0.5) / 1e6 AS mean_spread,
        |  round(avg(CAST(qls AS DOUBLE) / 1e6) / stddev_samp(CAST(qls AS DOUBLE) / 1e6)
        |        * sqrt(252.0), 6) AS sharpe_ann,
        |  round(avg(CASE WHEN qls > 0 THEN 1.0 ELSE 0.0 END), 6) AS hit_rate
        |FROM ls""".stripMargin,
    // op 214: identical competition ranks (same tiebreak), exact
    // integer Σd², same 1 − 6Σd²/120 parenthesization, the op-175
    // summary shape.
    "eod_ic" ->
      s"""$R_CTE, x AS (
        |  SELECT event_type, ts, event_id, ret,
        |    row_number() OVER w2 AS rn,
        |    lag(ret) OVER w2 AS sig
        |  FROM r WHERE ret IS NOT NULL
        |  WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), rk AS (
        |  SELECT rn, event_type, ret, sig,
        |    row_number() OVER (PARTITION BY rn ORDER BY sig DESC, event_type) AS rs,
        |    row_number() OVER (PARTITION BY rn ORDER BY ret DESC, event_type) AS rr,
        |    count(*) OVER (PARTITION BY rn) AS na
        |  FROM x WHERE sig IS NOT NULL
        |), p AS (
        |  SELECT rn,
        |    CAST(floor((1.0 - 6.0 * sum(((rs - rr)::DOUBLE) * ((rs - rr)::DOUBLE)) / 120.0)
        |      * 1e6 + 0.5) AS BIGINT) AS qic
        |  FROM rk WHERE na = 5 GROUP BY rn
        |)
        |SELECT count(*) AS n_periods,
        |  floor(CAST(sum(qic) AS DOUBLE) / count(*) + 0.5) / 1e6 AS mean_ic,
        |  round(avg(CAST(qic AS DOUBLE) / 1e6) / stddev_samp(CAST(qic AS DOUBLE) / 1e6)
        |        * sqrt(CAST(count(*) AS DOUBLE)), 6) AS ic_tstat,
        |  round(avg(CASE WHEN qic > 0 THEN 1.0 ELSE 0.0 END), 6) AS hit_rate
        |FROM p""".stripMargin,
    // op 222: same integer x/1e-9-quantized ln(price) sums through
    // DECIMAL(19,0)², same OLS parenthesization.
    "eod_k_ratio" ->
      """WITH x AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS BIGINT) AS x,
        |    CAST(floor(ln(value) * 1e9 + 0.5) AS BIGINT) AS yq
        |  FROM events WHERE value > 0
        |), a AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(x * x) AS sx2,
        |    sum(yq) AS sy,
        |    sum(CAST(x AS DECIMAL(19,0)) * CAST(yq AS DECIMAL(19,0))) AS sxy,
        |    sum(CAST(yq AS DECIMAL(19,0)) * CAST(yq AS DECIMAL(19,0))) AS sy2
        |  FROM x GROUP BY event_type
        |), d AS (
        |  SELECT event_type, n,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS bq,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sx2 AS DOUBLE) AS sx2d,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        |    CAST(sy2 AS DOUBLE) AS sy2d, CAST(n AS DOUBLE) AS nd
        |  FROM a
        |), e AS (
        |  SELECT event_type, n, bq,
        |    sqrt(((sy2d - ((syd - bq * sxd) / nd) * syd - bq * sxyd) / (nd - 2.0))
        |         / (sx2d - sxd * sxd / nd)) AS seq, nd
        |  FROM d
        |)
        |SELECT event_type, n,
        |  round(bq / 1e9, 9) AS slope,
        |  round(seq / 1e9, 9) AS slope_se,
        |  round(bq / seq, 6) + 0.0 AS t_stat,
        |  round(bq / seq / sqrt(nd), 6) + 0.0 AS k_ratio
        |FROM e ORDER BY event_type""".stripMargin,
    // op 216: the same 1e-6/1e-9 integer quantizations, the same
    // exact iq/Σiq weight ratios and 1e-9-quantized contribution
    // sums — every double either derives from identical integers or
    // is an exact integer ratio.
    // op 400: the op-237 weight chain (same DECIMAL moments, same
    // q9 inverse-vol quantization), the exact-integer deviation sum.
    "eod_active_share" ->
      s"""$R_CTE, x AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r WHERE ret IS NOT NULL
        |), b0 AS (
        |  SELECT event_type, CAST(floor((rn - 1) / 21) AS BIGINT) AS block,
        |    CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS q
        |  FROM x
        |), blk AS (
        |  SELECT event_type, block, count(*) AS n, sum(q) AS sq,
        |    sum(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))) AS sq2
        |  FROM b0 GROUP BY 1, 2
        |), v AS (
        |  SELECT event_type, block,
        |    sqrt((CAST(sq2 AS DOUBLE) / 1e12 -
        |      (CAST(sq AS DOUBLE) / 1e6) * (CAST(sq AS DOUBLE) / 1e6) / 21.0) / 20.0) AS vol
        |  FROM blk WHERE n = 21
        |), iv AS (
        |  SELECT event_type, block,
        |    CAST(floor(1.0 / vol * 1e9 + 0.5) AS BIGINT) AS iq
        |  FROM v WHERE vol > 0
        |), tot AS (
        |  SELECT block, CAST(sum(iq) AS BIGINT) AS siq
        |  FROM iv GROUP BY block HAVING count(*) = 5
        |), d AS (
        |  SELECT iv.block, iv.iq, t.siq, abs(5 * iv.iq - t.siq) AS dev
        |  FROM iv JOIN tot t ON iv.block = t.block
        |)
        |SELECT block, count(*) AS n_assets,
        |  floor(CAST(sum(dev) AS DOUBLE) / (10.0 * CAST(max(siq) AS DOUBLE))
        |    * 1e6 + 0.5) / 1e6 AS active_share,
        |  floor(CAST(max(iq) AS DOUBLE) / CAST(max(siq) AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS max_weight,
        |  floor(CAST(min(iq) AS DOUBLE) / CAST(max(siq) AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS min_weight
        |FROM d GROUP BY block ORDER BY block""".stripMargin,
    "eod_inverse_vol" ->
      s"""$R_CTE, x AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r WHERE ret IS NOT NULL
        |), b0 AS (
        |  SELECT event_type, CAST(floor((rn - 1) / 21) AS BIGINT) AS block,
        |    CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS q
        |  FROM x
        |), blk AS (
        |  SELECT event_type, block, count(*) AS n, sum(q) AS sq,
        |    sum(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))) AS sq2
        |  FROM b0 GROUP BY 1, 2
        |), v AS (
        |  SELECT event_type, block,
        |    sqrt((CAST(sq2 AS DOUBLE) / 1e12 -
        |      (CAST(sq AS DOUBLE) / 1e6) * (CAST(sq AS DOUBLE) / 1e6) / 21.0) / 20.0) AS vol,
        |    CAST(sq AS DOUBLE) / 1e6 / 21.0 AS br
        |  FROM blk WHERE n = 21
        |), iv AS (
        |  SELECT event_type, block, br,
        |    CAST(floor(1.0 / vol * 1e9 + 0.5) AS BIGINT) AS iq
        |  FROM v WHERE vol > 0
        |), wts AS (
        |  SELECT event_type, block + 1 AS block, iq FROM iv
        |), tot AS (
        |  SELECT block, sum(iq) AS siq FROM wts GROUP BY block HAVING count(*) = 5
        |), fl AS (
        |  SELECT block FROM iv GROUP BY block HAVING count(*) = 5
        |), j AS (
        |  SELECT iv.block, iv.event_type,
        |    CAST(w.iq AS DOUBLE) / CAST(t.siq AS DOUBLE) AS w, iv.br,
        |    CAST(floor(CAST(w.iq AS DOUBLE) / CAST(t.siq AS DOUBLE) * iv.br * 1e9 + 0.5)
        |      AS BIGINT) AS cq
        |  FROM iv
        |  JOIN wts w ON iv.event_type = w.event_type AND iv.block = w.block
        |  JOIN tot t ON iv.block = t.block
        |  JOIN fl f ON iv.block = f.block
        |), port AS (
        |  SELECT block, CAST(sum(cq) AS DOUBLE) / 1e9 AS pr FROM j GROUP BY block
        |)
        |SELECT j.block, j.event_type, round(j.w, 6) AS weight,
        |  round(j.br, 6) + 0.0 AS asset_ret, round(port.pr, 6) + 0.0 AS port_ret
        |FROM j JOIN port ON j.block = port.block
        |ORDER BY j.block, j.event_type""".stripMargin,
    "eod_cross_rank" ->
      s"""$R_CTE, x AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r WHERE ret IS NOT NULL
        |)
        |SELECT event_type, rn, round(ret, 6) AS ret,
        |  row_number() OVER (PARTITION BY rn ORDER BY ret DESC, event_type) AS xrank,
        |  count(*) OVER (PARTITION BY rn) AS n_assets
        |FROM x ORDER BY rn, xrank""".stripMargin,
    "eod_drawdown_stats" ->
      // op-126's episode CTE re-aggregated; avg depth on the same
      // quantized-long sums, duration/underwater on exact integers.
      """WITH d AS (
        |  SELECT event_type, event_id, ts,
        |    round(value / max(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1, 6) AS dd,
        |    count(*) OVER (PARTITION BY event_type) AS n_series
        |  FROM events
        |), g AS (
        |  SELECT *, sum(CASE WHEN dd >= 0 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY event_type ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS episode
        |  FROM d
        |), ep AS (
        |  SELECT event_type, episode, count(*) AS n_obs, min(dd) AS depth,
        |    max(n_series) AS n_series
        |  FROM g WHERE dd < 0 GROUP BY event_type, episode
        |)
        |SELECT event_type,
        |  count(*) AS n_episodes,
        |  round(min(depth), 6) AS max_depth,
        |  floor(CAST(sum(CAST(floor(depth * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / count(*) + 0.5) / 1e6 AS avg_depth,
        |  CAST(max(n_obs) AS BIGINT) AS max_duration,
        |  round(avg(n_obs), 6) AS avg_duration,
        |  round(CAST(sum(n_obs) AS DOUBLE) / max(n_series), 6) AS underwater_frac
        |FROM ep GROUP BY event_type ORDER BY event_type""".stripMargin,
    "eod_burke_sterling" ->
      // episode depths re-quantized to longs; Σqd² and the top-5 mean
      // are exact integer algebra; ann return from the shared r CTE.
      s"""$R_CTE, dd0 AS (
        |  SELECT event_type, event_id, ts,
        |    round(value / max(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1, 6) AS dd
        |  FROM events
        |), g2 AS (
        |  SELECT *, sum(CASE WHEN dd >= 0 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY event_type ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS episode
        |  FROM dd0
        |), ep AS (
        |  SELECT event_type, episode,
        |    CAST(floor(min(dd) * 1e6 + 0.5) AS BIGINT) AS qd
        |  FROM g2 WHERE dd < 0 GROUP BY event_type, episode
        |), rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY qd, episode) AS deep_rank
        |  FROM ep
        |), agg AS (
        |  SELECT event_type,
        |    CAST(sum(qd * qd) AS BIGINT) AS sum_qd2,
        |    CAST(sum(CASE WHEN deep_rank <= 5 THEN qd END) AS BIGINT) AS top5_qd,
        |    CAST(sum(CASE WHEN deep_rank <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_top
        |  FROM rk GROUP BY event_type
        |), ann AS (
        |  SELECT event_type, avg(ret) * 252.0 AS ann_ret
        |  FROM r WHERE ret IS NOT NULL GROUP BY event_type
        |)
        |SELECT ann.event_type,
        |  round(ann_ret / (sqrt(CAST(sum_qd2 AS DOUBLE)) / 1e6), 6) AS burke,
        |  round(ann_ret / abs(CAST(top5_qd AS DOUBLE) / n_top / 1e6), 6) AS sterling
        |FROM ann JOIN agg ON ann.event_type = agg.event_type
        |ORDER BY ann.event_type""".stripMargin,
    "eod_acf" ->
      (s"""$R_CTE, l AS (
        |  SELECT event_type, ret,
        |""".stripMargin +
        (1 to 5).map(k => s"    lag(ret, $k) OVER w AS l$k").mkString(",\n") +
        """
        |  FROM r WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), a AS (
        |  SELECT event_type,
        |""".stripMargin +
        (1 to 5).map(k => s"    round(corr(ret, l$k), 6) + 0.0 AS a$k").mkString(",\n") +
        """
        |  FROM l GROUP BY event_type
        |)
        |SELECT event_type, lag_k, acf FROM (
        |  SELECT event_type, 1 AS lag_k, a1 AS acf FROM a
        |""".stripMargin +
        (2 to 5).map(k => s"  UNION ALL SELECT event_type, $k, a$k FROM a").mkString("\n") +
        "\n) ORDER BY event_type, lag_k"),
    "tick_sign_autocorr" ->
      ("""WITH s0 AS (
        |  SELECT event_type, ts, event_id,
        |    CASE WHEN value > lag(value) OVER w THEN 1
        |         WHEN value < lag(value) OVER w THEN -1 ELSE 0 END AS dir
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), l AS (
        |  SELECT event_type, dir,
        |""".stripMargin +
        (1 to 5).map(k => s"    lag(dir, $k) OVER w AS l$k").mkString(",\n") +
        """
        |  FROM s0 WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), a AS (
        |  SELECT event_type,
        |""".stripMargin +
        (1 to 5).map(k => s"    round(corr(dir, l$k), 6) + 0.0 AS a$k").mkString(",\n") +
        """
        |  FROM l GROUP BY event_type
        |)
        |SELECT event_type, lag_k, sign_acf FROM (
        |  SELECT event_type, 1 AS lag_k, a1 AS sign_acf FROM a
        |""".stripMargin +
        (2 to 5).map(k => s"  UNION ALL SELECT event_type, $k, a$k FROM a").mkString("\n") +
        "\n) ORDER BY event_type, lag_k"),
    // op 211: same log-return + lag pass, same π/2 round-trip
    // literal, same greatest(0, 1 − BV/RV) parenthesization.
    "tick_bipower" ->
      s"""WITH t AS (
        |  SELECT event_type, ts, event_id,
        |    CASE WHEN value > 0 THEN ln(value) END
        |      - lag(CASE WHEN value > 0 THEN ln(value) END) OVER w AS lr
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), l AS (
        |  SELECT event_type, lr,
        |    lag(lr, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS lp
        |  FROM t
        |), a AS (
        |  SELECT event_type, sum(lr * lr) AS rvr,
        |    ${java.lang.Double.toString(PiOver2)} * sum(abs(lr) * abs(lp)) AS bvr
        |  FROM l GROUP BY event_type
        |)
        |SELECT event_type, round(rvr, 6) AS rv, round(bvr, 6) AS bv,
        |  round(CASE WHEN rvr <> 0.0
        |             THEN greatest(0.0, 1.0 - bvr / rvr) END, 6) + 0.0 AS jump_share
        |FROM a ORDER BY event_type""".stripMargin,
    // op 215: same day-grain max/min highs/lows, same k = 3 − 2√2
    // round-trip literal, identical α/S parenthesization.
    "tick_corwin_schultz" -> {
      val kL = java.lang.Double.toString(CsK)
      s"""WITH d0 AS (
        |  SELECT event_type, year(ts) AS yr, month(ts) AS mo, day(ts) AS dy,
        |    max(value) AS hi, min(value) AS lo
        |  FROM events WHERE value > 0 GROUP BY 1, 2, 3, 4
        |), d AS (
        |  SELECT event_type, hi, lo,
        |    row_number() OVER w AS rn,
        |    lead(hi, 1) OVER w AS hi2,
        |    lead(lo, 1) OVER w AS lo2
        |  FROM d0 WINDOW w AS (PARTITION BY event_type ORDER BY yr, mo, dy)
        |), p AS (
        |  SELECT event_type,
        |    pow(ln(hi / lo), 2) + pow(ln(hi2 / lo2), 2) AS beta,
        |    pow(ln(greatest(hi, hi2) / least(lo, lo2)), 2) AS gamma
        |  FROM d WHERE rn % 2 = 1 AND hi2 IS NOT NULL
        |), a AS (
        |  SELECT event_type,
        |    (sqrt(2.0 * beta) - sqrt(beta)) / $kL - sqrt(gamma / $kL) AS alpha
        |  FROM p
        |), sp AS (
        |  SELECT event_type,
        |    greatest(0.0, 2.0 * (exp(alpha) - 1.0) / (1.0 + exp(alpha))) AS s_pos
        |  FROM a
        |)
        |SELECT event_type, count(*) AS n_pairs,
        |  round(avg(s_pos), 6) AS cs_spread,
        |  round(avg(CASE WHEN s_pos > 0 THEN 1.0 ELSE 0.0 END), 6) AS frac_pos
        |FROM sp GROUP BY event_type ORDER BY event_type""".stripMargin
    },
    "eod_variance_ratio" ->
      """WITH lr0 AS (
        |  SELECT event_type, ts, event_id,
        |    CASE WHEN value > 0 THEN ln(value) END
        |      - lag(CASE WHEN value > 0 THEN ln(value) END)
        |        OVER (PARTITION BY event_type ORDER BY ts, event_id) AS lr
        |  FROM events
        |), b AS (
        |  SELECT event_type,
        |    CAST(floor(lr * 1e6 + 0.5) AS BIGINT) AS lrq,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM lr0 WHERE lr IS NOT NULL
        |), d AS (
        |  SELECT event_type, var_samp(lrq / 1e6) AS v1 FROM b GROUP BY event_type
        |), blocks AS (
        |  SELECT event_type, q, floor((rn - 1) / q) AS bucket,
        |         sum(lrq) AS sq, count(*) AS c
        |  FROM b, (SELECT unnest([2, 4, 8]) AS q)
        |  GROUP BY event_type, q, bucket
        |), v AS (
        |  SELECT event_type, q, var_samp(sq / 1e6) AS vq
        |  FROM blocks WHERE c = q GROUP BY event_type, q
        |)
        |SELECT v.event_type, q, round(vq / (q * v1), 6) + 0.0 AS vr
        |FROM v JOIN d ON v.event_type = d.event_type
        |ORDER BY v.event_type, q""".stripMargin,
    // op 191: identical integer dev/range/variance algebra; window
    // sums CAST BIGINT (DuckDB promotes to HUGEINT), floor-quantized
    // block means, slope over the log-spaced sizes = Δln/ln16.
    "eod_hurst" ->
      s"""WITH lr0 AS (
        |  SELECT event_type, ts, event_id,
        |    CASE WHEN value > 0 THEN ln(value) END
        |      - lag(CASE WHEN value > 0 THEN ln(value) END)
        |        OVER (PARTITION BY event_type ORDER BY ts, event_id) AS lr
        |  FROM events
        |), b AS (
        |  SELECT event_type,
        |    CAST(floor(lr * 1e6 + 0.5) AS BIGINT) AS q,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM lr0 WHERE lr IS NOT NULL
        |), e AS (
        |  SELECT event_type, q, rn, m.m AS m,
        |    CAST(floor((rn - 1) / m.m) AS BIGINT) AS blk
        |  FROM b CROSS JOIN (SELECT unnest([8, 32, 128]) AS m) m
        |), r AS (
        |  SELECT event_type, m, blk, q, rn,
        |    CAST(sum(q) OVER (PARTITION BY event_type, m, blk ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumq,
        |    rn - blk * m AS i,
        |    CAST(sum(q) OVER (PARTITION BY event_type, m, blk) AS BIGINT) AS sumqb
        |  FROM e
        |), g AS (
        |  SELECT event_type, m, blk, count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sq2,
        |    max(cumq * m - i * sumqb) AS maxd,
        |    min(cumq * m - i * sumqb) AS mind
        |  FROM r GROUP BY 1, 2, 3
        |), rsb AS (
        |  SELECT event_type, m,
        |    CAST(floor(CAST(maxd - mind AS DOUBLE)
        |      / sqrt(CAST(m * sq2 - sq * sq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS rsq
        |  FROM g WHERE n = m AND m * sq2 - sq * sq > 0
        |), pm AS (
        |  SELECT event_type, m,
        |    floor(CAST(sum(rsq) AS DOUBLE) / count(*) + 0.5) / 1e6 AS mrs
        |  FROM rsb GROUP BY 1, 2
        |)
        |SELECT event_type,
        |  max(CASE WHEN m = 8 THEN mrs END) AS mrs_8,
        |  max(CASE WHEN m = 32 THEN mrs END) AS mrs_32,
        |  max(CASE WHEN m = 128 THEN mrs END) AS mrs_128,
        |  round((ln(max(CASE WHEN m = 128 THEN mrs END))
        |       - ln(max(CASE WHEN m = 8 THEN mrs END))) / $FourLn2, 6) + 0.0
        |    AS hurst
        |FROM pm GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Each metric below is the verbatim aggregate of its standalone
    // green oracle (total_return/cagr/sharpe/sortino/max_drawdown/
    // calmar/ulcer/upi/skew_kurt/year_frac), composed over one base CTE.
    "eod_perf_summary" ->
      s"""WITH b AS (
        |  SELECT event_type, event_id, ts, value, $SQL_STABLE AS p,
        |    value / lag(value) OVER w - 1 AS ret,
        |    value / max(value) OVER wc - 1 AS dd,
        |    $SQL_STABLE / max($SQL_STABLE) OVER wc - 1 AS ddp
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id),
        |         wc AS (PARTITION BY event_type ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), b2 AS (
        |  SELECT *, CASE WHEN ret IS NOT NULL
        |    THEN ret - avg(ret) OVER (PARTITION BY event_type) END AS dev
        |  FROM b
        |)
        |SELECT event_type,
        |  round(arg_max(value, ts) / arg_min(value, ts) - 1, 6) AS total_return,
        |  round(pow(arg_max(p, ts) / arg_min(p, ts),
        |    1.0 / ((epoch_us(max(ts)) - epoch_us(min(ts))) / (1e6 * 31557600.0))) - 1, 6) AS cagr,
        |  round(avg(ret - $RF_LIT) / stddev_samp(ret - $RF_LIT) * sqrt(252.0), 6) AS sharpe,
        |  round(CASE WHEN stddev_samp(least(ret - ${java.lang.Double.toString(RF / NP)}, 0.0)) != 0.0
        |    THEN avg(ret - ${java.lang.Double.toString(RF / NP)})
        |         / stddev_samp(least(ret - ${java.lang.Double.toString(RF / NP)}, 0.0)) * sqrt(252.0)
        |    END, 6) AS sortino,
        |  round(min(dd), 6) AS max_drawdown,
        |  round((pow(arg_max(p, ts) / arg_min(p, ts),
        |    1.0 / ((epoch_us(max(ts)) - epoch_us(min(ts))) / (1e6 * 31557600.0))) - 1)
        |    / abs(min(ddp)), 6) AS calmar,
        |  round(sqrt(avg(pow(dd * 100.0, 2.0))), 6) AS ulcer_index,
        |  round(avg(ret) / sqrt(avg(pow(dd * 100.0, 2.0))), 6) AS upi,
        |  round(avg(pow(dev, 3)) / pow(avg(pow(dev, 2)), 1.5), 6) AS skew,
        |  round(avg(pow(dev, 4)) / pow(avg(pow(dev, 2)), 2) - 3, 6) AS kurt_excess,
        |  round((epoch_us(max(ts)) - epoch_us(min(ts))) / (1e6 * 31557600.0), 6) AS year_frac,
        |  count(*) AS n_obs
        |FROM b2 GROUP BY event_type ORDER BY event_type""".stripMargin,

    "tick_trade_rate" ->
      """SELECT event_type,
        |  round(count(*)::DOUBLE / ((epoch_us(max(ts)) * 1000 - epoch_us(min(ts)) * 1000) / 1e6), 6) AS trade_rate
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "tick_inter_trade_time" ->
      """WITH d AS (
        |  SELECT event_type,
        |    epoch_us(ts) * 1000 - lag(epoch_us(ts) * 1000) OVER w AS delta_ns
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, round(avg(delta_ns) / 1e9, 6) AS inter_trade_time
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "tick_burstiness" ->
      """WITH d AS (
        |  SELECT event_type,
        |    epoch_us(ts) * 1000 - lag(epoch_us(ts) * 1000) OVER w AS delta_ns
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, round(stddev_samp(delta_ns) / avg(delta_ns), 6) AS burstiness
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    // op 304: the eod_garch_filter oracle recipe on durations — the
    // k=60 truncated fold replayed as a 60-row range self-join; ψ at
    // 4dp (durations are O(10²) s; see the Spark-side note).
    "tick_acd" ->
      """WITH d AS (
        |  SELECT event_type, event_id, ts,
        |    (epoch_us(ts) * 1000 - lag(epoch_us(ts) * 1000) OVER w) / 1e9 AS dx
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), f AS (
        |  SELECT event_type, event_id, dx,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM d WHERE dx IS NOT NULL
        |), p AS (
        |  SELECT a.event_type, a.event_id, a.dx,
        |    0.05 * (1 - pow(0.85, count(*))) / (1 - 0.85)
        |      + 0.1 * sum(pow(0.85, a.rn - 1 - b.rn) * b.dx) AS psi
        |  FROM f a JOIN f b
        |    ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 60 AND a.rn - 1
        |  GROUP BY a.event_type, a.event_id, a.dx
        |)
        |SELECT event_type, event_id,
        |  round(psi, 4) AS acd_psi,
        |  round(dx / psi, 6) AS dur_surprise
        |FROM p""".stripMargin,
    "tick_volume_rate" ->
      s"""SELECT event_type,
        |  round(sum($SQL_VOL) / ((epoch_us(max(ts)) * 1000 - epoch_us(min(ts)) * 1000) / 1e9), 6) AS volume_rate
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "tick_ofi" ->
      s"""WITH t AS (
        |  SELECT event_type, $SQL_VOL *
        |    (CASE WHEN value > lag(value) OVER w THEN 1
        |          WHEN value < lag(value) OVER w THEN -1 ELSE 0 END) AS sv
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, round(sum(sv), 6) AS ofi
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
    "tick_traded_value" ->
      s"""SELECT event_type,
        |  round(CAST(sum(CAST(value * $SQL_VOL AS DECIMAL(30,10))) AS DOUBLE), 2) AS traded_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "tick_vwap" ->
      s"""SELECT event_type,
        |  round(CAST(sum(CAST(value * $SQL_VOL AS DECIMAL(30,10))) AS DOUBLE)
        |      / CAST(sum(CAST($SQL_VOL AS DECIMAL(30,10))) AS DOUBLE), 6) AS vwap
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "tick_rule" ->
      """SELECT event_type, event_id,
        |  CAST(CASE WHEN value > lag(value) OVER w THEN 1
        |            WHEN value < lag(value) OVER w THEN -1 ELSE 0 END AS INT) AS direction
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin,
    "tick_signed_volume" ->
      s"""SELECT event_type, event_id,
        |  round($SQL_VOL * (CASE WHEN value > lag(value) OVER w THEN 1
        |                         WHEN value < lag(value) OVER w THEN -1 ELSE 0 END), 6) AS signed_volume
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin,
    "tick_imbalance" ->
      """WITH t AS (
        |  SELECT event_type,
        |    CASE WHEN value > lag(value) OVER w THEN 1
        |         WHEN value < lag(value) OVER w THEN -1 ELSE 0 END AS dir
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, round(sum(dir)::DOUBLE / count(*)::DOUBLE, 6) + 0.0 AS tick_imbalance
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
    "tick_micro_returns" ->
      """SELECT event_type, event_id,
        |  round(CASE WHEN value > 0 THEN ln(value) END
        |        - lag(CASE WHEN value > 0 THEN ln(value) END) OVER w, 6) AS micro_ret
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin,
    "tick_pvr" ->
      """SELECT event_type, round(stddev_samp(value) / avg(value), 6) AS pvr
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "tick_price_impact" ->
      s"""SELECT event_type,
        |  round((arg_max(value, ts) - arg_min(value, ts)) / sum($SQL_VOL), 6) AS price_impact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "tick_realized_vol" ->
      """WITH t AS (
        |  SELECT event_type, CASE WHEN value > 0 THEN ln(value) END
        |    - lag(CASE WHEN value > 0 THEN ln(value) END) OVER w AS lr
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, round(sqrt(sum(pow(lr, 2.0))), 6) AS realized_vol
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
    // op 291: same power sums (explicit products, not pow, matching
    // the Spark side's multiplication chain).
    "tick_realized_moments" ->
      """WITH t AS (
        |  SELECT event_type, CASE WHEN value > 0 THEN ln(value) END
        |    - lag(CASE WHEN value > 0 THEN ln(value) END) OVER w AS lr
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), a AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(lr * lr) AS rv, sum(lr * lr * lr) AS s3,
        |    sum(lr * lr * lr * lr) AS s4
        |  FROM t WHERE lr IS NOT NULL GROUP BY event_type
        |)
        |SELECT event_type, n,
        |  round(sqrt(rv), 6) AS realized_vol,
        |  round(sqrt(CAST(n AS DOUBLE)) * s3 / (rv * sqrt(rv)), 6)
        |    AS realized_skew,
        |  round(CAST(n AS DOUBLE) * s4 / (rv * rv), 6) AS realized_kurt
        |FROM a ORDER BY event_type""".stripMargin,

    "rel_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_disc_price,
        |  round(CAST(avg(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE), 6) AS avg_qty,
        |  round(CAST(avg(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "rel_join_agg" ->
      """SELECT r_name, n_name,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "rel_topn_per_group" ->
      """WITH ranked AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders
        |)
        |SELECT o_orderpriority, rk, o_orderkey, round(o_totalprice, 2) AS total_price
        |FROM ranked WHERE rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin,
    // op 66: the multiply the rule rewrites pow(x,2) into — integral
    // quantities, so both sides are exact doubles at any sum order.
    "rel_pow2_rewrite" ->
      """SELECT l_returnflag, count(*) AS n,
        |  sum(l_quantity * l_quantity) AS sum_qty_sq
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // rel_bucketed_join routes through the bucketed write, but the
    // RESULT is layout-independent — a plain join/agg replays it.
    "rel_bucketed_join" ->
      """SELECT o_orderkey, count(*) AS n_items,
        |  round(sum(l_quantity), 6) AS sum_qty,
        |  round(max(o_totalprice), 6) AS total_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "rel_semi_anti" ->
      """WITH op AS (
        |  SELECT c_nationkey, count(*) AS n_open_cust FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders
        |                WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |  GROUP BY c_nationkey
        |), nn AS (
        |  SELECT c_nationkey, count(*) AS n_no_order_cust FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_nationkey
        |)
        |SELECT n_name,
        |  coalesce(n_open_cust, 0) AS n_open_cust,
        |  coalesce(n_no_order_cust, 0) AS n_no_order_cust
        |FROM nation
        |LEFT JOIN op ON n_nationkey = op.c_nationkey
        |LEFT JOIN nn ON n_nationkey = nn.c_nationkey
        |ORDER BY n_name""".stripMargin,
    "rel_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS r_name,
        |  coalesce(n_name, 'ALL') AS n_name,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name, n_name""".stripMargin,
    "rel_pivot" ->
      """SELECT o_orderpriority,
        |  round(CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(30,8)) END) AS DOUBLE), 2) AS rev_f,
        |  round(CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(30,8)) END) AS DOUBLE), 2) AS rev_o,
        |  round(CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(30,8)) END) AS DOUBLE), 2) AS rev_p
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "rel_tpch_q3" ->
      """WITH j AS (
        |  SELECT l_orderkey,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8)) AS r,
        |    o_orderdate
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l_shipdate > TIMESTAMP '1998-01-01'
        |), g AS (
        |  SELECT l_orderkey, sum(r) AS rev,
        |    epoch_us(max(o_orderdate)) AS o_orderdate_us
        |  FROM j GROUP BY l_orderkey
        |)
        |SELECT l_orderkey, round(CAST(rev AS DOUBLE), 2) AS revenue,
        |  o_orderdate_us
        |FROM g ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin,
    "rel_cube" ->
      """SELECT coalesce(r_name, 'ALL') AS r_name,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, o_orderpriority)
        |ORDER BY r_name, priority""".stripMargin,
    "rel_window_funcs" ->
      """WITH t AS (
        |  SELECT c_mktsegment,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd,
        |    ntile(10) OVER w AS decile
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |)
        |SELECT c_mktsegment, decile, count(*) AS n,
        |  round(min(pr), 6) AS min_pr, round(max(cd), 6) AS max_cd
        |FROM t GROUP BY c_mktsegment, decile
        |ORDER BY c_mktsegment, decile""".stripMargin,
    // op 212: identical join predicates (incl. the c=s nation
    // constraint) and the exact-DECIMAL revenue sum.
    "rel_tpch_q5" ->
      """SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(30,8))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_items
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // op 213: the correlated form, decorrelated by DuckDB itself —
    // the comparison stays in exact cross-multiplied DECIMAL.
    "rel_above_avg" ->
      """WITH s AS (
        |  SELECT o_custkey, o_totalprice,
        |    sum(CAST(o_totalprice AS DECIMAL(30,8)))
        |      OVER (PARTITION BY o_custkey) AS s,
        |    count(*) OVER (PARTITION BY o_custkey) AS n
        |  FROM orders
        |)
        |SELECT o_custkey, count(*) AS n_above,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2)
        |    AS sum_above
        |FROM s WHERE CAST(o_totalprice AS DECIMAL(30,8)) * n > s
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // op 245: the same exact-DECIMAL HAVING threshold.
    "rel_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(30,8))) AS qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(30,8))) > 150
        |)
        |SELECT c_custkey, c_name, o_orderkey,
        |  epoch_us(o_orderdate) AS o_orderdate_us,
        |  round(o_totalprice, 2) AS o_totalprice,
        |  round(CAST(qty AS DOUBLE), 2) AS total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    // op 234: the same three pushed predicates, exact DECIMAL.
    // op 355: the identical 8 conditional sums from one scan; exact
    // decimal revenue bands.
    "rel_multi_band_scan" -> {
      def b(i: Int) = {
        val lo = i * 6.0 + 1.0
        s"l_quantity >= $lo AND l_quantity < ${lo + 6.0}"
      }
      s"""SELECT
        |  CAST(sum(CASE WHEN ${b(0)} THEN 1 ELSE 0 END) AS BIGINT) AS n_b1,
        |  CAST(sum(CASE WHEN ${b(1)} THEN 1 ELSE 0 END) AS BIGINT) AS n_b2,
        |  CAST(sum(CASE WHEN ${b(2)} THEN 1 ELSE 0 END) AS BIGINT) AS n_b3,
        |  CAST(sum(CASE WHEN ${b(3)} THEN 1 ELSE 0 END) AS BIGINT) AS n_b4,
        |  CAST(sum(CASE WHEN ${b(4)} THEN 1 ELSE 0 END) AS BIGINT) AS n_b5,
        |  CAST(sum(CASE WHEN ${b(5)} THEN 1 ELSE 0 END) AS BIGINT) AS n_b6,
        |  CAST(sum(CASE WHEN ${b(6)} THEN 1 ELSE 0 END) AS BIGINT) AS n_b7,
        |  CAST(sum(CASE WHEN ${b(7)} THEN 1 ELSE 0 END) AS BIGINT) AS n_b8,
        |  round(CAST(sum(CASE WHEN ${b(0)}
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))
        |    ELSE CAST(0 AS DECIMAL(30,8)) END) AS DOUBLE), 2) AS rev_b1,
        |  round(CAST(sum(CASE WHEN ${b(7)}
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))
        |    ELSE CAST(0 AS DECIMAL(30,8)) END) AS DOUBLE), 2) AS rev_b8
        |FROM lineitem""".stripMargin
    },
    "rel_tpch_q6" ->
"""SELECT
        |  round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,8))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    // op 292: window-decorrelated form (quantities are whole numbers
    // held exactly in doubles, so the 0.2·avg cutoff is bit-identical
    // across engines); money summed in exact DECIMAL.
    "rel_tpch_q17" ->
      """WITH b AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#23'
        |), w AS (
        |  SELECT l_quantity, l_extendedprice,
        |    0.2 * avg(l_quantity) OVER (PARTITION BY l_partkey) AS lim
        |  FROM b
        |)
        |SELECT
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE)
        |    / 7.0, 2) AS avg_yearly,
        |  count(*) AS n_items
        |FROM w WHERE l_quantity < lim""".stripMargin,
    // op 299: same flat join tree, both directions via the <> filter.
    "rel_tpch_q7" ->
      """WITH sel AS (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))
        |      AS vol
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |  WHERE n1.n_name IN ('NATION_3', 'NATION_8')
        |    AND n2.n_name IN ('NATION_3', 'NATION_8')
        |    AND n1.n_name <> n2.n_name
        |)
        |SELECT supp_nation, cust_nation, l_year,
        |  round(CAST(sum(vol) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_items
        |FROM sel GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // op 300: left join preserves the zero-order tail.
    "rel_tpch_q13" ->
      """WITH cc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey
        |)
        |SELECT c_count, count(*) AS custdist
        |FROM cc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // op 308: EXISTS with the same lateness predicate = the semi join.
    "rel_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // op 309: same CASE-sums over the joined year of lineitems.
    "rel_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // op 310: identical per-row profit parenthesization, exact-DECIMAL
    // sum.
    "rel_tpch_q9" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    - 0.5 * p_retailprice * l_quantity AS DECIMAL(30,8)))
        |    AS DOUBLE), 2) AS sum_profit,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    // op 311: same cents quantization, same long threshold compare.
    "rel_tpch_q11" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |    sum(CAST(floor(l_extendedprice * l_quantity * 100.0 + 0.5)
        |      AS BIGINT)) AS v
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY l_partkey
        |), t AS (SELECT sum(v) AS tot, count(*) AS np FROM pp)
        |SELECT l_partkey, round(CAST(v AS DOUBLE) / 100.0, 2) AS value
        |FROM pp CROSS JOIN t
        |WHERE v * np > tot
        |ORDER BY value DESC, l_partkey""".stripMargin,
    // op 312: exact-DECIMAL revenue through the max equality.
    "rel_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(30,8))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name,
        |  round(CAST(total_rev AS DOUBLE), 2) AS total_revenue
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    // op 313: DISTINCT pair catalog, NOT-IN exclusion, distinct count.
    "rel_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO' AND p_size <= 10
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // op 314: EXISTS/NOT EXISTS over the same lateness predicate.
    "rel_tpch_q21" ->
      """WITH base AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |)
        |SELECT s_name, count(*) AS numwait
        |FROM base b1
        |JOIN supplier ON s_suppkey = b1.sk
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE n_name = 'NATION_2' AND b1.is_late
        |  AND EXISTS (SELECT 1 FROM base b2
        |              WHERE b2.ok = b1.ok AND b2.sk <> b1.sk)
        |  AND NOT EXISTS (SELECT 1 FROM base b3
        |                  WHERE b3.ok = b1.ok AND b3.sk <> b1.sk
        |                    AND b3.is_late)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,
    // op 315: same cent-grid unit price, per-part min + join-back.
    "rel_tpch_q2" ->
      """WITH cost AS (
        |  SELECT p_partkey, p_brand, l_suppkey,
        |    min(CAST(floor(l_extendedprice / l_quantity * 100.0 + 0.5)
        |      AS BIGINT)) AS unit_cents
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_size = 15 AND p_type = 'SMALL'
        |  GROUP BY 1, 2, 3
        |), mn AS (
        |  SELECT p_partkey AS mpk, min(unit_cents) AS m FROM cost
        |  GROUP BY 1
        |)
        |SELECT p_partkey, p_brand, s_name,
        |  n_name AS nation, round(s_acctbal, 2) AS s_acctbal,
        |  CAST(unit_cents AS DOUBLE) / 100.0 AS unit_price
        |FROM cost
        |JOIN mn ON mpk = p_partkey AND unit_cents = m
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'ASIA'
        |ORDER BY s_acctbal DESC, nation, s_name, p_partkey""".stripMargin,
    // op 323: same one-pass pair aggregate; IN-subquery = the semi.
    "rel_tpch_q20" ->
      """WITH pairs AS (
        |  SELECT l_partkey, l_suppkey,
        |    sum(CAST(l_quantity AS BIGINT)) AS life_qty,
        |    sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
        |             AND l_shipdate < TIMESTAMP '1998-01-01'
        |        THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q97
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'blue%'
        |  GROUP BY 1, 2
        |)
        |SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
        |FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND s_suppkey IN (SELECT l_suppkey FROM pairs
        |                    WHERE life_qty > 2 * q97)
        |ORDER BY s_name, s_suppkey""".stripMargin,
    // op 301: same 1-row average; NOT EXISTS with the same date
    // cutoff = the anti join.
    "rel_tpch_q22" ->
      """WITH ab AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,4))) AS abn,
        |    CAST(count(*) AS DECIMAL(18,0)) AS abd
        |  FROM customer WHERE c_acctbal > 0.0
        |)
        |SELECT n_name, count(*) AS numcust,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE), 2)
        |    AS totacctbal
        |FROM customer CROSS JOIN ab
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE CAST(c_acctbal AS DECIMAL(18,4)) * abd > abn
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // op 298: flat join tree, same exact-DECIMAL conditional/total
    // sums, one double division per year.
    "rel_tpch_q8" ->
      """WITH sel AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))
        |      AS vol,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n1.n_regionkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        |)
        |SELECT o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN vol
        |      ELSE CAST(0.0 AS DECIMAL(30,8)) END) AS DOUBLE)
        |    / CAST(sum(vol) AS DOUBLE), 6) AS mkt_share,
        |  count(*) AS n_items
        |FROM sel GROUP BY o_year ORDER BY o_year""".stripMargin,
    // op 274: same exact-DECIMAL conditional/total sums, one division.
    "rel_tpch_q14" ->
      """SELECT
        |  round(100.0 *
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))
        |      ELSE CAST(0.0 AS DECIMAL(30,8)) END) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE),
        |    6) AS promo_revenue_pct,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS total_revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,
    // op 281: identical disjunctive predicate, exact DECIMAL revenue.
    "rel_tpch_q19" ->
      """SELECT
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,
    // op 282: the same set list, subtotals labeled 'ALL'.
    "rel_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS seg,
        |  coalesce(o_orderpriority, 'ALL') AS pri,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2)
        |    AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority),
        |                        (c_mktsegment), (o_orderpriority))
        |ORDER BY seg, pri""".stripMargin,
    // op 235: the same gaps-and-islands integers.
    "eod_streaks" ->
      s"""$R_CTE, x AS (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
        |    CASE WHEN ret > 0 THEN 1 WHEN ret < 0 THEN -1 ELSE 0 END AS sgn
        |  FROM r WHERE ret IS NOT NULL
        |), isl AS (
        |  SELECT event_type, sgn,
        |    rn - row_number() OVER (PARTITION BY event_type, sgn ORDER BY rn) AS grp
        |  FROM x
        |), runs AS (
        |  SELECT event_type, sgn, grp, count(*) AS len
        |  FROM isl GROUP BY 1, 2, 3
        |)
        |SELECT event_type,
        |  max(CASE WHEN sgn = 1 THEN len END) AS max_win_streak,
        |  max(CASE WHEN sgn = -1 THEN len END) AS max_loss_streak,
        |  CAST(sum(CASE WHEN sgn = 1 AND len >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_win_streaks_5,
        |  CAST(sum(CASE WHEN sgn = -1 AND len >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_loss_streaks_5
        |FROM runs GROUP BY event_type ORDER BY event_type""".stripMargin,
    // op 236: identical time-ranks, the op-70 rn pair join.
    "eod_spearman_matrix" ->
      """WITH r0 AS (
        |  SELECT event_type, ts, event_id,
        |    value / lag(value) OVER w - 1 AS ret
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |), r AS (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY ret, event_id) AS DOUBLE) AS srk
        |  FROM r0 WHERE ret IS NOT NULL
        |)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  round(corr(a.srk, b.srk), 6) + 0.0 AS spearman
        |FROM r a JOIN r b ON a.rn = b.rn AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // op 229: identical filters and the exact-DECIMAL top-20 order.
    "rel_tpch_q10" ->
      """WITH j AS (
        |  SELECT c_custkey, c_name, n_name,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8)) AS r
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1997-10-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l_returnflag = 'R'
        |), g AS (
        |  SELECT c_custkey, c_name, n_name, sum(r) AS rev, count(*) AS n_items
        |  FROM j GROUP BY 1, 2, 3
        |)
        |SELECT c_custkey, c_name, n_name,
        |  round(CAST(rev AS DOUBLE), 2) AS revenue, n_items
        |FROM g ORDER BY rev DESC, c_custkey LIMIT 20""".stripMargin
  )

  // =================================================================
  // LLM-training-data pipeline ops (SURVEY §2 ops 39-42, 46-57)
  // =================================================================

  /** Documents corpus with deterministic planted duplicates so dedup
    * queries have real positives: exact copies (id+2e6, doc_id%97==0)
    * and near copies with one appended token (id+1e6, doc_id%50==0).
    * Identical construction in the oracle CTE.
    */
  private def docCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionAll(d.where(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" the")).as("text")))
      .unionAll(d.where(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
  }

  /** Shared dedup-index evaluation report (ops 169/370/371): the
    * candidate-pair set of a near-dup family graded against an exact
    * ground-truth pair set — one row of (n_truth, n_found, n_hit,
    * precision, recall). Both inputs are the already-bucketed linear
    * operators; the intersect is a pair-key join, and the three
    * 1-row aggregates cross-join for free.
    */
  private def dedupEvalReport(truthPairs: DataFrame,
                              foundPairs: DataFrame): DataFrame = {
    // r14: each pair set feeds BOTH the intersect and its own count —
    // Catalyst re-plans a shared subtree per consumer, so without
    // pinning the expensive exact-Jaccard truth op (and the candidate
    // op) runs twice per report. The pinned relations are pair lists,
    // tiny next to the shingle joins that produce them (planted-dup-
    // linear, SCALE §19). At cluster scale swap for `checkpoint` (the
    // SemDeDup convention, Cluster.semanticDedupVerdict).
    val truth = truthPairs.select(col("id_a"), col("id_b")).localCheckpoint()
    val found = foundPairs.select(col("id_a"), col("id_b")).localCheckpoint()
    val hit = found.intersect(truth)
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_found"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_found"), 6)
          .as("precision"),
        round(col("n_hit").cast("double") / col("n_truth"), 6)
          .as("recall"))
  }

  /** op-385's AND-composed 2-of-4 band candidate pairs over the
    * dHash band relation — shared by mm_phash_dedup (which verifies
    * candidates with the exact Hamming cut) and dedup_eval_phash
    * (which grades the RAW candidate set, before verification,
    * against exact ground truth). */
  private def dHashCandPairs(hb: DataFrame): DataFrame = {
    val comboIdx = Seq((0, "h0", "h1"), (1, "h0", "h2"), (2, "h0", "h3"),
      (3, "h1", "h2"), (4, "h1", "h3"), (5, "h2", "h3"))
    val combos = array(comboIdx.map { case (i, ca, cb) =>
      struct(lit(i).as("c"), col(ca).as("v1"), col(cb).as("v2"))
    }: _*)
    val keyed = hb.select(col("doc_id"), explode(combos).as("kk"))
      .select(col("doc_id"), col("kk.c").as("c"),
        col("kk.v1").as("v1"), col("kk.v2").as("v2"))
    keyed.as("a").join(keyed.as("b"),
        col("a.c") === col("b.c") && col("a.v1") === col("b.v1") &&
          col("a.v2") === col("b.v2") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Shared by text_readability and its streaming gate twin: exact
    * integer word/sentence/syllable counts (character-class regexes
    * only, so Java regex and RE2 agree), then the two classic scores
    * with identical parenthesization on both engines. Map-only,
    * whole-stage codegen, no shuffle.
    */
  private def readabilityScores(docs: DataFrame): DataFrame = {
    val words = size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
    val sents = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
    val sylls = size(regexp_extract_all(lower(col("text")),
      lit("[aeiouy]+"), lit(0)))
    val wps = col("n_words").cast("double") / col("n_sents").cast("double")
    val spw = col("n_sylls").cast("double") / col("n_words").cast("double")
    docs
      .select(col("doc_id"), words.cast("long").as("n_words"),
        sents.cast("long").as("n_sents"), sylls.cast("long").as("n_sylls"))
      .where(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_sylls"),
        (round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 4)
          + lit(0.0)).as("flesch"),
        (round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 4)
          + lit(0.0)).as("fk_grade"))
  }

  private val CORPUS_CTE =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' the' FROM documents WHERE doc_id % 50 = 0
      |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 97 = 0
      |)""".stripMargin

  /** The dHash chain shared by the mm_phash_dedup and
    * dedup_eval_phash oracles: synthetic image bytes → 9×8 dHash
    * bits → four 16-bit bands (`bands`/`hv`) → the 2-of-4
    * AND-composed band candidate pairs (`cand`). */
  private val PHASH_CTE =
    """bh AS (
      |  SELECT doc_id, md5(text) AS hx FROM corpus
      |), d AS (
      |  SELECT doc_id, list_transform(range(0, 16), i ->
      |    (strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16
      |    + strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1) AS bytes
      |  FROM bh
      |), dim AS (
      |  SELECT doc_id, 1 + bytes[1] % 64 AS w, 1 + bytes[2] % 64 AS h, bytes
      |  FROM d
      |), g AS (
      |  SELECT doc_id, i.range AS i, j.range AS j,
      |    bytes[(((i.range * w) // 9 + (j.range * h) // 8) % 16) + 1] AS p
      |  FROM dim CROSS JOIN range(0, 9) i CROSS JOIN range(0, 8) j
      |), bits AS (
      |  SELECT a.doc_id, a.j * 8 + a.i AS k
      |  FROM g a JOIN g n ON n.doc_id = a.doc_id AND n.j = a.j
      |    AND n.i = a.i + 1
      |  WHERE a.i < 8 AND n.p > a.p
      |), bitvals AS (
      |  SELECT doc_id, k // 16 AS band,
      |    CAST(pow(2, k % 16) AS BIGINT) AS v
      |  FROM bits
      |), bands0 AS (
      |  SELECT dim.doc_id, r.range AS band FROM dim CROSS JOIN range(0, 4) r
      |), bands AS (
      |  SELECT bands0.doc_id, bands0.band,
      |    COALESCE(CAST(sum(v) AS BIGINT), 0) AS bv
      |  FROM bands0 LEFT JOIN bitvals
      |    ON bitvals.doc_id = bands0.doc_id AND bitvals.band = bands0.band
      |  GROUP BY bands0.doc_id, bands0.band
      |), k2 AS (
      |  -- AND-composed blocking key: every unordered PAIR of bands
      |  -- (the Spark side's 6 explicit combos)
      |  SELECT a.doc_id, a.band AS b1, b.band AS b2, a.bv AS v1, b.bv AS v2
      |  FROM bands a JOIN bands b
      |    ON b.doc_id = a.doc_id AND a.band < b.band
      |), cand AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM k2 x JOIN k2 y
      |    ON x.b1 = y.b1 AND x.b2 = y.b2 AND x.v1 = y.v1
      |    AND x.v2 = y.v2 AND x.doc_id < y.doc_id
      |), hv AS (
      |  SELECT doc_id,
      |    max(CASE WHEN band = 0 THEN bv END) AS h0,
      |    max(CASE WHEN band = 1 THEN bv END) AS h1,
      |    max(CASE WHEN band = 2 THEN bv END) AS h2,
      |    max(CASE WHEN band = 3 THEN bv END) AS h3
      |  FROM bands GROUP BY doc_id
      |)""".stripMargin

  /** Embedding dimensionality of the testdata embeddings table. */
  private val EmbDim = 64

  /** Op-286/296 shared kernel: brute top-3 in the SQ8-reconstructed
    * space — query AND corpus encoded against the CORPUS-trained
    * per-dim [min,max] ranges (codes clipped to [0,255], the Faiss
    * SQ8 recipe), reconstructed, ranked by reconstructed cosine. The
    * range table is a 64-row broadcast; encode/decode is per-row map
    * algebra — the codec adds NO shuffle to the brute plan.
    */
  private def sq8TopK(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val corpus = e.where(col("vec_id") >= 5)
    val ranges = corpus.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          s => s.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("mxs"))
    def recon(df: DataFrame) = df.crossJoin(broadcast(ranges))
      .withColumn("rv", transform(col("v"), (x, i) => {
        val mn = element_at(col("mns"), i + 1)
        val mx = element_at(col("mxs"), i + 1)
        val code = least(greatest(
          floor((x - mn) / (mx - mn) * 255.0 + 0.5), lit(0.0)), lit(255.0))
        when(mx === mn, mn).otherwise(mn + code / 255.0 * (mx - mn))
      }))
      .select(col("vec_id"), col("rv"))
    Similarity.bruteForceTopK(recon(e.where(col("vec_id") < 5)),
      recon(corpus), "vec_id", "rv", 3)
  }

  /** Embeddings corpus with planted exact-duplicate vectors. */
  private def embCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    e.unionAll(e.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
  }

  private val ECORPUS_CTE =
    """ecorpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0
      |)""".stripMargin

  /** toks CTE over corpus (whitespace tokenization, shared convention). */
  private val TOKS_CTE =
    s"""WITH $CORPUS_CTE, t AS (
      |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM corpus
      |)""".stripMargin

  /** Centered 1e-4-quantized embedding rows and the top principal
    * direction after 5 quantized power iterations + one final
    * multiply — the shared engine of embed_power_iter (op 198) and
    * embed_whitening (op 327). Returns (means(pos, mu, n, sxx, sx),
    * rows(id, xqa), top(nrm, va)); `top` is ONE row: the last product's
    * norm and the quantized direction `va` in pos order. See op 198's
    * scaladoc for the exactness/headroom argument (every iteration an
    * integer fold, norms through DECIMAL(19,0)², bit-for-bit on any
    * engine).
    */
  private def embTopPc(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val ex = tbl(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "x")))
      .withColumn("xq0", floor(col("x") * 1e4 + 0.5).cast("long"))
    val means = ex.groupBy(col("pos"))
      .agg((sum(col("xq0")).cast("double") / count(lit(1)) / 1e4).as("mu"),
        count(lit(1)).as("n"),
        sum(col("xq0") * col("xq0")).as("sxx"), sum(col("xq0")).as("sx"))
    // `rows` is read by every power step: pin it (the Dedup.clusters
    // idiom) so the explode + centering + array assembly runs once, not
    // once per step. It is the one corpus-sized pin and the natural
    // restart point; at cluster scale swap for `checkpoint` (the
    // SemDeDup convention, Cluster.semanticDedupVerdict).
    val rows = ex.join(broadcast(means.select(col("pos"), col("mu"))), "pos")
      .withColumn("xq", floor((col("x") - col("mu")) * 1e4 + 0.5)
        .cast("long"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("xq")))), e => e.getField("xq")).as("xqa"))
      .localCheckpoint()
    // One power step on the one-row iterate `va`: per pos,
    // w = Σ_rows xq·⌊xq·va/1e4⌋, then va' = round(w/|w|·1e4) with |w|
    // summed exactly in DECIMAL(19,0)².
    def step(state: DataFrame): DataFrame = rows.crossJoin(broadcast(state))
      .select(posexplode(col("xqa")).as(Seq("pos", "xqe")),
        floor(dot(col("xqa"), col("va"), lit(0L)) / 1e4).cast("long")
          .as("ssc"))
      .groupBy(col("pos")).agg(sum(col("xqe") * col("ssc")).as("w"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        e => e.getField("w")).as("w"))
      .select(let(sqrt(aggregate(col("w"), lit(0).cast("decimal(38,0)"),
          (acc, w) => acc + w.cast("decimal(19,0)") * w.cast("decimal(19,0)"))
          .cast("double"))) { nrm =>
        struct(nrm.as("nrm"), transform(col("w"), w =>
          floor(w.cast("double") / nrm * 1e4 + 0.5).cast("long")).as("va"))
      }.as("top"))
      .select(col("top.nrm"), col("top.va"))
    val v0 = rows.agg(array_repeat(
      lit(math.floor(1.0 / 8.0 * 1e4 + 0.5).toLong),
      max(size(col("xqa")))).as("va"))
    (means, rows, (1 to 6).foldLeft(v0)((v, _) => step(v)))
  }

  private def pipelineQueries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap( // declaration order — see coreQueries
    // ---- text analysis (ops 53-56)
    "text_token_count" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("ws_tokens"),
        Text.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))),
    "text_quality" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        round(Text.qualityScore(col("text")), 6).as("quality"))),
    // Flesch reading ease + Flesch–Kincaid grade (op 276; Flesch
    // 1948/Kincaid 1975): the classic readability pair over exact
    // integer counts — words = latin-letter runs, sentences =
    // terminator runs (min 1), syllables = vowel-group runs (the
    // standard dictionary-free heuristic). The patterns are
    // character classes only, so Java regex and RE2 agree; the two
    // scores are identical-parenthesization algebra on exact
    // integers. Map-only, whole-stage codegen, no shuffle.
    "text_readability" -> ((s, dir) =>
      readabilityScores(tbl(s, dir, "documents"))),
    // Type-token ratio + Simpson diversity per source (op 278): the
    // lexical-diversity pair behind repetition filters — TTR = V/N
    // (distinct over total tokens) and Simpson's D = Σc(c−1)/(N(N−1))
    // (the probability two random tokens coincide; high = templated
    // text). All exact integer counts: explode → per-(source, token)
    // hash agg with map-side combine → one tiny per-source agg — the
    // same two-level shape every corpus frequency op here uses, no
    // distinct-shuffle (V counted in pass two).
    "text_ttr" -> ((s, dir) => {
      val tok = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("t"))
        .where(col("t") =!= "")
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      tok.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(col("c") * (col("c") - 1)).as("coinc"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          round(col("n_types").cast("double") /
            col("n_tokens").cast("double"), 6).as("ttr"),
          round(col("coinc").cast("double") /
            (col("n_tokens").cast("double") *
              (col("n_tokens").cast("double") - 1.0)), 6).as("simpson_d"))
    }),
    // Doc-length Gini per source (op 279): corpus concentration —
    // are a few giant documents carrying a source's token mass (a
    // mixture-weight and dedup-risk signal). The sorted-rank closed
    // form G = (2Σr·x − (n+1)Σx)/(nΣx) on exact integer lengths:
    // one rank window per source + one agg, no O(n²) pairing; ties
    // in x are rank-order-invariant (equal x ⇒ Σr·x unchanged), so
    // the statistic is engine-exact.
    "corpus_gini" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      tbl(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("r", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sx"),
          sum(col("r") * col("n_chars")).as("srx"))
        .select(col("source"), col("n_docs"),
          round((lit(2.0) * col("srx").cast("double") -
            (col("n_docs") + 1).cast("double") * col("sx").cast("double")) /
            (col("n_docs").cast("double") * col("sx").cast("double")), 6)
            .as("gini"))
    }),
    // Character entropy (op 206, the compressibility proxy): Shannon
    // H = ln n − Σc·ln c / n over per-doc character counts — templated
    // or repeated text scores low, the quality signal compression-
    // based filters approximate. Per-char terms c·ln c quantize to
    // 1e-9 longs (integer sums; a term flip moves H by ~1e-11, far
    // under the 1e-6 output grid); explode → two keyed hash aggs.
    "text_char_entropy" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .where(col("ch") =!= "")
        .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
        .withColumn("tq", floor(col("c") * log(col("c").cast("double"))
          * 1e9 + 0.5).cast("long"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_chars_total"),
          count(lit(1)).as("distinct_chars"), sum(col("tq")).as("stq"))
        .select(col("doc_id"), col("n_chars_total"), col("distinct_chars"),
          (floor((log(col("n_chars_total").cast("double"))
            - col("stq").cast("double") / 1e9 / col("n_chars_total"))
            * 1e6 + 0.5) / 1e6).as("entropy"))),
    // Top bigrams by PMI (op 207; Church & Hanks 1990): pointwise
    // mutual information ln((B/N_b)·(N_u/U_x)·(N_u/U_y)) over corpus
    // bigram/unigram counts, min count 5, top 20 by (PMI, bigram) —
    // collocation mining, the classic phrase detector (word2vec's
    // phrase pass is this formula with a discount). All counts are
    // integers; PMI is one ln of an exact-integer-ratio product with
    // IDENTICAL parenthesization in the oracle; two keyed joins of
    // the bigram relation against the unigram counts.
    "text_pmi_bigrams" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      val d = tbl(s, dir, "documents")
      val bi = d.select(explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("x"), b.as("y")))).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("b"))
      val uni = d.select(explode(toks).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("u"))
      val nb = bi.agg(sum(col("b")).as("n_b"))
      val nu = uni.agg(sum(col("u")).as("n_u"))
      bi.where(col("b") >= 5)
        .join(uni.withColumnRenamed("w", "x").withColumnRenamed("u", "ux"), "x")
        .join(uni.withColumnRenamed("w", "y").withColumnRenamed("u", "uy"), "y")
        .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
        .withColumn("pmi", log(
          (col("b").cast("double") / col("n_b"))
            * (col("n_u").cast("double") / col("ux"))
            * (col("n_u").cast("double") / col("uy"))))
        .select(concat_ws(" ", col("x"), col("y")).as("bigram"),
          col("b").as("b_count"), (round(col("pmi"), 6) + lit(0.0)).as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(20)
    }),
    // TextRank keywords (op 326; Mihalcea/Tarau 2004 — the op-317
    // integer-PageRank idiom on the WORD graph): corpus-level keyword
    // extraction for tagging/topic routing. Nodes are tokens, edges
    // the undirected adjacent-token co-occurrences (self-loops
    // dropped), contributions weighted by edge count over node
    // strength — all on the 1e-9 integer rank grid with floor
    // division, so the 3 iterations replay bit-for-bit on any
    // engine/partitioning (the oracle unrolls them). Every stage is a
    // keyed agg on the token key; the graph is vocabulary-sized, not
    // corpus-sized, so at 100 TB this costs one token-bigram pass +
    // iterations over a relation ~|vocab|.
    "text_textrank" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      val d = tbl(s, dir, "documents")
      val bi = d.select(explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("x"), b.as("y")))).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
        .where(col("x") =!= col("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
        // r14: both unionAll legs of the undirected edge build consume
        // bi — pin it so the bigram tokenize pass runs once. At
        // cluster scale swap for `checkpoint` (the SemDeDup
        // convention, Cluster.semanticDedupVerdict); every pin here
        // is vocabulary-sized — Heaps-law sublinear (SCALE §19).
        .localCheckpoint()
      val edges = bi.select(col("x").as("src"), col("y").as("dst"), col("c"))
        .unionAll(bi.select(col("y").as("src"), col("x").as("dst"), col("c")))
        .groupBy(col("src"), col("dst")).agg(sum(col("c")).as("wt"))
      // r14: strength feeds the edge join, the node list, and the
      // node count — pin the vocab-sized relation.
      val strength = edges.groupBy(col("src")).agg(sum(col("wt")).as("st"))
        .localCheckpoint()
      val edgesSt = edges.join(strength, "src").localCheckpoint()
      val nodes = strength.select(col("src").as("w"))
        .crossJoin(broadcast(strength.agg(count(lit(1)).as("nw"))))
        .localCheckpoint()
      val r0 = nodes.select(col("w"), col("nw"),
        expr("1000000000 div nw").as("rq"))
      val rF = (1 to 3).foldLeft(r0) { (rank, _) =>
        val inflow = edgesSt
          .join(rank.select(col("w").as("src"), col("rq")), "src")
          .withColumn("cc", expr("(rq * wt) div st"))
          .groupBy(col("dst")).agg(sum(col("cc")).as("inflow"))
        val next = nodes
          .join(inflow, col("w") === col("dst"), "left")
          .select(col("w"), col("nw"),
            (expr("150000000 div nw") +
              expr("(17 * coalesce(inflow, 0L)) div 20")).as("rq"))
          .localCheckpoint()
        org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(rank)
        next
      }
      rF.orderBy(col("rq").desc, col("w")).limit(20)
        .select(col("w").as("word"),
          (col("rq").cast("double") / 1e9).as("textrank"))
    }),
    // Curriculum schedule (op 189): the corpus bucketed into quality
    // bins, highest first — the "easy/clean data early" training
    // order, emitted as a phase table a data loader consumes. Binning
    // is INTEGER on the 1e-6-quantized score (bin = qq div 1e5,
    // clamped — never floor(q·10) on a double, whose ulp at a bin
    // edge could flip engines), so bucket membership is exact; token
    // totals are integral sums; mean quality is the floor-mean of the
    // quantized scores. No window anywhere — map + one keyed agg.
    "corpus_curriculum" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      docs
        .withColumn("qq",
          floor(round(Text.qualityScore(col("text")), 6) * 1e6 + 0.5)
            .cast("long"))
        .withColumn("bin",
          least(floor(col("qq") / 100000L).cast("long"), lit(9L)))
        .withColumn("ntok", Text.tokenCount(col("text")).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
          (floor(sum(col("qq")).cast("double") / count(lit(1)) + 0.5) / 1e6)
            .as("mean_quality"))
        .withColumn("phase", lit(9L) - col("bin"))
        .select(col("phase"), col("bin"), col("n_docs"), col("n_tokens"),
          col("mean_quality"))
    }),
    "text_lang_id" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Text.langId(col("text")).as("lang_pred"))),
    "text_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Text.fingerprint(col("text")).as("fingerprint"))),
    // Normalization must do real work on the synthetic (already-clean)
    // docs, so the query first injects deterministic whitespace/control
    // noise (space → space, C0 0x01, two spaces), then asserts the cleanup via
    // lengths + digest of the cleaned text.
    "text_normalize" -> ((s, dir) => {
      val messy = regexp_replace(col("text"), " ", "   ")
      tbl(s, dir, "documents")
        .select(col("doc_id"), messy.as("messy"))
        .select(col("doc_id"),
          length(col("messy")).cast("long").as("raw_len"),
          length(Text.normalize(col("messy"))).cast("long").as("clean_len"),
          md5(Text.normalize(col("messy"))).as("clean_digest"))
    }),
    // Gopher/MassiveText quality rule verdicts (op 110).
    "corpus_gopher" -> ((s, dir) =>
      Corpus.gopherQualityRules(tbl(s, dir, "documents"), "doc_id", "text")),
    // Ensemble quality vote (op 369; the production curation pattern —
    // single gates over/under-filter, so ship a MAJORITY of
    // independent signals): keep ⟺ ≥2 of {gopher rules pass, Flesch ≥
    // 10, unigram-LM xent < 3.41} — thresholds documented against this
    // corpus's measured distributions; per-source pass counts for each
    // gate + the ensemble keep rate, all exact integers over the three
    // gates' own hash-green values.
    "corpus_quality_vote" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val g = Corpus.gopherQualityRules(d, "doc_id", "text")
        .select(col("doc_id"), col("keep").cast("int").as("g1"))
      val r = readabilityScores(d)
        .select(col("doc_id"), (col("flesch") >= 10.0).cast("int").as("g2"))
      val l = Corpus.lmScore(d, "doc_id", "text")
        .select(col("id").as("doc_id"),
          (col("lm_xent") < 3.41).cast("int").as("g3"))
      d.select(col("doc_id"), col("source"))
        .join(g, Seq("doc_id"), "left")
        .join(r, Seq("doc_id"), "left")
        .join(l, Seq("doc_id"), "left")
        .na.fill(0, Seq("g1", "g2", "g3"))
        .withColumn("keep",
          (col("g1") + col("g2") + col("g3") >= 2).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("g1")).as("pass_gopher"),
          sum(col("g2")).as("pass_readability"),
          sum(col("g3")).as("pass_lm"),
          sum(col("keep")).as("n_kept"))
        .withColumn("keep_rate",
          floor(col("n_kept").cast("double") / col("n_docs") * 1e6
            + lit(0.5)) / 1e6)
    }),
    // Sliding-window token chunking (op 111).
    "corpus_chunk_tokens" -> ((s, dir) =>
      Corpus.tokenChunks(tbl(s, dir, "documents"), "doc_id", "text")),
    // One BPE merge round's pair counts over the corpus (op 112).
    "corpus_bpe_pairs" -> ((s, dir) =>
      Corpus.bpePairStats(tbl(s, dir, "documents"), "doc_id", "text")),
    // Per-source adaptive length trim (op 113): documents carries
    // n_chars and source natively.
    // Token-length distribution per language (op 402): the subword-
    // readiness histogram (long-tail token lengths predict BPE
    // fragmentation); lengths capped at 30 into one overflow bin.
    // One explode + one keyed count — map-side combinable.
    "corpus_token_histogram" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("lang"), explode(Text.tokens(col("text"))).as("tok"))
        .select(col("lang"),
          least(length(col("tok")), lit(30)).cast("long").as("tok_len"))
        .groupBy(col("lang"), col("tok_len"))
        .agg(count(lit(1)).as("n"))),
    "corpus_length_filter" -> ((s, dir) =>
      Corpus.adaptiveLengthFilter(tbl(s, dir, "documents"), "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("len_lo"), col("len_hi"))),
    // Hard-negative mining over the labeled embeddings (op 114).
    "ann_hard_negatives" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.hardNegativesTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", "label", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("neighbor_label").cast("long").as("neighbor_label"),
          col("cosine"))
    }),
    // The IVF scale path of op 114: same mining through probed cells.
    "ann_hard_negatives_ivf" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.hardNegativesIvfTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", "label", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("neighbor_label").cast("long").as("neighbor_label"),
          col("cosine"))
    }),
    // Incremental MinHash-LSH dedup (op 109): the planted copies are
    // the "new batch", the original documents the indexed corpus.
    "dedup_incremental" -> ((s, dir) => {
      val corpus = docCorpus(s, dir)
      Dedup.minhashLshIncremental(
          corpus.where(col("doc_id") >= 1000000),
          corpus.where(col("doc_id") < 1000000), "doc_id", "text")
    }),

    // ---- dedup (ops 46-50)
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(docCorpus(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("canonical_id"), col("is_dup"))),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(docCorpus(s, dir), "doc_id", "text")),
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(Dedup.minhashLshPairs(docCorpus(s, dir), "doc_id", "text"),
          "id_a", "id_b")),
    // Duplicate-cluster size histogram (op 203, the dedup report's
    // shape diagnostic): how big are the near-dup families — a corpus
    // of pairs dedups cheaply, a power-law tail of giant clusters is
    // where hot-bucket caps and keep-one policies earn their keep.
    // Two keyed aggs over the op-81 component table; n_dup_docs =
    // (size−1)·clusters is what keep-one-per-cluster would remove.
    "dedup_cluster_stats" -> ((s, dir) =>
      Dedup.clusters(Dedup.minhashLshPairs(docCorpus(s, dir), "doc_id", "text"),
          "id_a", "id_b")
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          ((col("cluster_size") - 1) * count(lit(1))).as("n_dup_docs"))),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(docCorpus(s, dir), "doc_id", "text")),
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docCorpus(s, dir), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docCorpus(s, dir), "doc_id", "text")),
    // Directed shingle containment (op 319; Broder 1997's second
    // resemblance measure): the asymmetric quote/subset signal —
    // a short doc pasted whole into a long one clears containment
    // while its Jaccard drowns in the long side's union.
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(docCorpus(s, dir), "doc_id", "text",
          threshold = 0.5)),
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingCosinePairs(embCorpus(s, dir), "vec_id", "embedding",
          0.99, EmbDim)),
    // Dedup-index evaluation (op 169, the ann_recall pattern on the
    // dedup family): precision/recall of the MinHash-LSH candidate
    // pairs against exact n-gram-Jaccard ≥ 0.5 ground truth on the
    // planted-dup corpus — the measured basis for choosing k/bands
    // (the S-curve in numbers, not in faith). One-row report; both
    // pair sets are the already-bucketed ops, the intersect is a
    // pair-key join.
    "dedup_eval" -> ((s, dir) => {
      val c = docCorpus(s, dir)
      dedupEvalReport(
        Dedup.ngramJaccardPairs(c, "doc_id", "text", threshold = 0.5),
        Dedup.minhashLshPairs(c, "doc_id", "text"))
    }),
    // Op-169 harness extended to the OTHER two near-dup families
    // (r12 verdict ask #7): SimHash banding and directed containment
    // graded against the SAME exact n-gram-Jaccard ≥ 0.5 ground
    // truth, so every family's knob (k/bands, maxHamming, radius)
    // has a measured recall/precision basis, not a chosen one.
    // SimHash's hamming≤3 gate is a DIFFERENT similarity geometry
    // (angular, frequency-weighted) than set-Jaccard — the report
    // quantifies exactly how far the two disagree on this corpus.
    "dedup_eval_simhash" -> ((s, dir) => {
      val c = docCorpus(s, dir)
      dedupEvalReport(
        Dedup.ngramJaccardPairs(c, "doc_id", "text", threshold = 0.5),
        Dedup.simhashPairs(c, "doc_id", "text", maxHamming = 3))
    }),
    // Containment is ASYMMETRIC by design (short-inside-long), so
    // graded against symmetric Jaccard truth its "false positives"
    // are mostly the quote/subset pairs Jaccard cannot see — the
    // precision number here is the measured size of that gap.
    "dedup_eval_containment" -> ((s, dir) => {
      val c = docCorpus(s, dir)
      dedupEvalReport(
        Dedup.ngramJaccardPairs(c, "doc_id", "text", threshold = 0.5),
        Dedup.containmentPairs(c, "doc_id", "text", threshold = 0.5))
    }),

    // ---- corpus curation (ops 76-79): repetition quality, stratified
    // sampling, contamination, packing — all md5-deterministic
    "text_repetition" -> ((s, dir) =>
      Corpus.repetitionStats(tbl(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),
    "corpus_sample" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .withColumn("lang", Text.langId(col("text")))
      Corpus.stratifiedSample(d, "doc_id", col("lang"),
          Map("en" -> 0.9, "unknown" -> 0.25), defaultRate = 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    }),
    // Train/val/test split manifest (op 197): the md5-coin assignment
    // (80/10/10) every training run needs to be REPRODUCIBLE — the
    // same corpus always lands in the same split, regardless of
    // partitioning, insertion order, or engine (the stratifiedSample
    // coin, thresholded twice). Per (source, split): docs, tokens, and
    // the realized fraction (exact integer ratio over the tiny
    // source-sized relation). Map + one keyed agg + one small window.
    "corpus_split" -> ((s, dir) => {
      val u = Corpus.md5Uniform(col("doc_id"))
      val wSrc = Window.partitionBy(col("source"))
      tbl(s, dir, "documents")
        .withColumn("split",
          when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"))
        .withColumn("ntok", Text.tokenCount(col("text")).cast("long"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"))
        .withColumn("frac",
          round(col("n_docs").cast("double")
            / sum(col("n_docs")).over(wSrc), 6))
    }),
    // Benchmark set = the original %97 docs; the corpus' planted
    // +2000000 copies of exactly those docs are the contamination to
    // catch (plus any real 8-gram collision).
    "corpus_contamination" -> ((s, dir) => {
      val c = docCorpus(s, dir)
      val isBench = col("doc_id") % 97 === 0 && col("doc_id") < 1000000
      Corpus.contamination(c.where(!isBench), c.where(isBench),
          "doc_id", "text", width = 8)
        .withColumnRenamed("id", "doc_id")
    }),
    "corpus_pack" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .withColumn("lang", Text.langId(col("text")))
      Corpus.packSequences(d, "doc_id", "text", col("lang"),
          targetTokens = 2048, ordCol = "doc_id")
        .groupBy(col("stratum"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("sum_tokens"))
    }),

    // ---- write-side layout planning (ops 139-140)
    // op 139: per-source size-budgeted shard manifest — the "~512 MB
    // output files" rule as a deterministic plan both engines replay.
    "layout_shard_plan" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.operators.Layout.shardPlan(d, "source", "doc_id", "n_chars",
          target = 2000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("shard_chars"))
    }),
    // Skipping manifest (op 179, the Iceberg/Delta file-stats story):
    // per shard of the op-139 plan, the min/max/count/null-count
    // column stats a scan planner prunes on — a shard whose
    // [min, max] misses the predicate never opens. Dense doc_id
    // ranges + n_chars spans make the pruning effectiveness visible;
    // same one window pass + one keyed agg as the plan itself.
    // Zone-map pruning report (op 367; the min/max-statistics payoff):
    // for the range predicate doc_id BETWEEN 100 AND 500, a shard is
    // prunable iff its [min_id, max_id] zone misses the range — the
    // report every lakehouse table-format (Iceberg/Delta) derives from
    // file statistics, here computed over the op-139/179 manifest. Per
    // source: shard/byte counts scanned vs pruned + the prune rate —
    // the number that justifies sort-order/z-order choices at 100 TB.
    "layout_prune_report" -> ((s, dir) => {
      val man = graft.operators.Layout
        .shardPlan(tbl(s, dir, "documents"), "source", "doc_id", "n_chars",
          target = 2000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          sum(col("n_chars").cast("long")).as("bytes"))
      val prunable = col("max_id") < 100L || col("min_id") > 500L
      man.groupBy(col("source"))
        .agg(count(lit(1)).as("n_shards"),
          sum(prunable.cast("long")).as("n_pruned"),
          sum((!prunable).cast("long")).as("n_scanned"),
          sum(when(!prunable, col("bytes")).otherwise(0L))
            .as("bytes_scanned"))
        .select(col("source"), col("n_shards"), col("n_pruned"),
          col("n_scanned"), col("bytes_scanned"),
          (floor(col("n_pruned").cast("double") / col("n_shards") * 1e6
            + lit(0.5)) / 1e6).as("prune_rate"))
    }),

    // Compaction planner (op 344): the OPTIMIZE bin-packer over the
    // op-139 shard manifest — files under 3000 "bytes" pack into dense
    // 10000-byte compaction bins (exclusive prefix div, pure function
    // of the manifest), big files keep their layout. The planner scans
    // METADATA (#files rows), the shape a 100 TB lake's OPTIMIZE runs
    // nightly; report = per (source, action, bin) file counts + exact
    // byte totals.
    "layout_compaction" -> ((s, dir) => {
      val files = graft.operators.Layout
        .shardPlan(tbl(s, dir, "documents"), "source", "doc_id", "n_chars",
          target = 2000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(sum(col("n_chars").cast("long")).as("bytes"))
      graft.operators.Layout
        .compactionPlan(files, "source", "shard_id", "bytes",
          small = 3000L, target = 10000L)
        .groupBy(col("source"), col("action"), col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"),
          min(col("shard_id")).as("min_shard"),
          max(col("shard_id")).as("max_shard"))
    }),
    // Hash-layout balance report (op 401): rows and byte mass per
    // doc_id-modulo bucket for a 32-bucket plan, summarized to the
    // max/mean skew factors — the pre-flight check before committing
    // a bucketed-table layout (op 65's join locality is only worth
    // it if the buckets balance). All-integer; one keyed agg + one
    // 32-row agg.
    "layout_bucket_balance" -> ((s, dir) => {
      val b = tbl(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(32)).cast("long").as("bucket"),
          col("n_chars"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      b.agg(count(lit(1)).as("n_buckets"),
          sum(col("n_docs")).as("total_docs"),
          min(col("n_docs")).as("min_docs"), max(col("n_docs")).as("max_docs"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("total_chars"))
        .select(col("n_buckets"), col("total_docs"), col("min_docs"),
          col("max_docs"),
          (floor(col("max_docs").cast("double") * col("n_buckets")
            / col("total_docs").cast("double") * 1e6 + 0.5) / 1e6)
            .as("row_skew"),
          (floor(col("max_chars").cast("double") * col("n_buckets")
            / col("total_chars").cast("double") * 1e6 + 0.5) / 1e6)
            .as("byte_skew"))
    }),
    "layout_manifest" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.operators.Layout.shardPlan(d, "source", "doc_id", "n_chars",
          target = 2000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"),
          sum(col("lang").isNull.cast("long")).as("null_lang"))
    }),
    // Scan-amplification audit of the op-179 manifest (op 202 — the
    // metric behind "did the layout actually enable skipping?"): 10
    // evenly-spaced probe points per source's id range, each counting
    // the shards whose [min,max] contain it — a point predicate opens
    // avg_touched files of n_shards; skip_frac is what pruning saves.
    // Everything is integer (probe positions by exact floor division,
    // touch counts, 10-probe mean = exact ratio); the manifest
    // relation is shard-sized, so the probe join is trivial.
    "layout_overlap" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val man = graft.operators.Layout.shardPlan(d, "source", "doc_id",
          "n_chars", target = 2000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      val spans = man.groupBy(col("source"))
        .agg(min(col("min_id")).as("lo"), max(col("max_id")).as("hi"),
          count(lit(1)).as("n_shards"))
      val probes = spans
        .withColumn("j", explode(sequence(lit(0), lit(9))))
        .withColumn("p", col("lo") + floor((col("hi") - col("lo"))
          * col("j") / 9.0).cast("long"))
      val touched = probes.select(col("source"), col("j"), col("p"))
        .join(man, "source")
        .where(col("p") >= col("min_id") && col("p") <= col("max_id"))
        .groupBy(col("source"), col("j")).agg(count(lit(1)).as("t"))
      probes.join(touched, Seq("source", "j"), "left")
        .withColumn("tt", coalesce(col("t"), lit(0L)))
        .groupBy(col("source"))
        .agg(max(col("n_shards")).as("n_shards"),
          round(sum(col("tt")).cast("double") / 10.0, 4).as("avg_touched"),
          round(lit(1.0) - sum(col("tt")).cast("double") / 10.0
            / max(col("n_shards")), 4).as("skip_frac"))
    }),
    // op 140: z-order layout audit — interleave (user, hour-of-corpus)
    // to 8 bits each, bucket the 16-bit z-key into 256 files, report
    // each file's span on BOTH dims (the pruning story: a z-clustered
    // file bounds every interleaved dimension, a time-sorted one only
    // bounds time). Pure integer algebra so the oracle replays it.
    "layout_zorder" -> ((s, dir) => {
      val e = events(s, dir)
      val stamped = e.withColumn("h",
          expr("least(greatest((unix_micros(ts) - 1704067200000000L) " +
            "div 3600000000L, 0L), 719L)"))
        .withColumn("hb", expr("(h * 256) div 720"))
        .withColumn("z", graft.operators.Layout.zorderValue(
          Seq(col("user_id"), col("hb")), bits = 8))
        .withColumn("file_id", expr("z div 256"))
      stamped.groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          (max(col("user_id")) - min(col("user_id"))).as("user_span"),
          (max(col("h")) - min(col("h"))).as("hour_span"))
    }),

    // ---- similarity search (ops 51-52)
    "ann_topk_bruteforce" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
    }),
    // SQ8-reconstructed top-k (op 286): search over the op-89 int8
    // codec — both sides encode against the CORPUS-trained per-dim
    // [min,max] ranges (codes clipped to [0,255], the Faiss SQ8
    // recipe), reconstruct, and rank by reconstructed cosine. This is
    // the asymmetric-distance search the 8×-smaller store actually
    // serves; comparing its neighbor sets with ann_topk_bruteforce
    // measures the codec's retrieval cost. The range table is a
    // 64-row broadcast; encode/decode is per-row map algebra — the
    // compression adds NO shuffle to the brute plan.
    "ann_topk_sq8" -> ((s, dir) =>
      sq8TopK(s, dir)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))),
    // SQ8 retrieval-quality audit (op 296): recall@3 of the op-286
    // reconstructed-space search against the full-precision brute
    // ground truth — the measured basis for shipping the 8×-smaller
    // store (the op-237 evaluation pattern applied to the codec).
    "ann_recall_sq8" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.recallAtK(
          sq8TopK(s, dir),
          Similarity.bruteForceTopK(e.where(col("vec_id") < 5),
            e.where(col("vec_id") >= 5), "vec_id", "embedding", 3), 3)
        .select(col("query_id"), col("n_hits"),
          round(col("recall"), 6).as("recall"))
    }),
    // MIPS top-k (op 208): maximum INNER PRODUCT — the retrieval
    // objective when magnitudes carry signal (recommender scores,
    // un-normalized rerankers) where cosine ANN ranks wrong. Scores
    // are INTEGER folds of 1e-4-quantized components (exact under any
    // order, so top-k by (score, id) is a total order both engines
    // agree on bit-for-bit). Brute scan is the small-query-set
    // baseline (queries broadcast); at scale the standard reduction
    // (Bachrach 2014: augment with √(M²−‖x‖²) → cosine problem) runs
    // this through the op-52/63 LSH/IVF machinery unchanged.
    "ann_topk_mips" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding")
          .cast("array<double>"),
          x => floor(x * 1e4 + 0.5).cast("long")).as("q"))
      val qs = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("q").as("qv"))
      val cands = e.where(col("vec_id") >= 3)
        .select(col("vec_id").as("neighbor_id"), col("q").as("cv"))
      val wQ = Window.partitionBy(col("query_id"))
        .orderBy(col("ip_q").desc, col("neighbor_id"))
      cands.crossJoin(broadcast(qs))
        .withColumn("ip_q", aggregate(
          zip_with(col("qv"), col("cv"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
        .withColumn("rank", row_number().over(wQ).cast("long"))
        .where(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("ip_q") / 1e8, 6).as("inner_product"))
    }),
    // Approximate by design but fully deterministic (md5-derived planes
    // / lowest-id centroids), so DuckDB replays the exact same buckets.
    "ann_topk_lsh" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.lshTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3, EmbDim)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
    }),
    // Range search (op 384): ALL bucket-mates with cosine ≥ 0.25 —
    // the "everything this similar" API next to top-k, same LSH
    // candidate generator (and oracle chain) as ann_topk_lsh.
    "ann_range_search" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.lshRangeSearch(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 0.25, EmbDim)
    }),
    // kNN graph over the whole corpus (op 150): the SemDeDup /
    // SSL-prototype / hard-negative precursor — every vector's top-3
    // cosine neighbors among candidates sharing ANY of its 2 LSH
    // tables' sign buckets (OR'd tables, the standard recall
    // amplification). Bucket-join shaped: no all-pairs scan; a pair
    // met in both tables collapses via the per-pair max (cosine is
    // identical on every meeting). At 100 TB this is the per-batch
    // neighbor-graph build: candidates shuffle on (table, bucket),
    // cost ∝ Σ bucket², never N² — with Similarity.knnGraph's
    // DefaultMaxBucket cap bounding the worst single bucket (the
    // oracle replays the cap via a bucket-count CTE); size planes
    // with Similarity.planesForN at real corpus scale.
    "ann_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          3, EmbDim, planes = annPlanes(s))
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))),
    // kNN symmetry (op 390): the fraction of op-150 graph edges that
    // are MUTUAL (a→b and b→a) — the standard index-quality
    // diagnostic beside op 218's hubness (asymmetry = hubs crowding
    // out reciprocal structure). One self-intersect of the edge list.
    "ann_mutual_knn" -> ((s, dir) => {
      // r15: g feeds THREE consumers (both intersect legs + the edge
      // count) — without a pin the LSH-banded kNN-graph build (the
      // Σ bucket² candidate join + top-k window) runs three times.
      // The pinned relation is the n×k edge list (r14 pin rule: heavy
      // producer, bounded output). At cluster scale swap for
      // `checkpoint` (the SemDeDup convention).
      val g = Similarity.knnGraph(tbl(s, dir, "embeddings"), "vec_id",
          "embedding", 3, EmbDim, planes = annPlanes(s))
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        .localCheckpoint()
      val mutual = g.intersect(
        g.select(col("dst").as("src"), col("src").as("dst")))
      g.agg(count(lit(1)).as("n_edges"))
        .crossJoin(mutual.agg(count(lit(1)).as("n_mutual")))
        .select(col("n_edges"), col("n_mutual"),
          (floor(col("n_mutual").cast("double")
            / col("n_edges").cast("double") * 1e6 + 0.5) / 1e6)
            .as("mutual_frac"))
    }),
    // MMR diversity rerank (op 365; Carbonell/Goldstein 1998): pick 3
    // of each query's top-10 brute candidates greedily by λ·rel −
    // (1−λ)·max-sim-to-selected — the dedupe-aware retrieval the raw
    // top-k can't do (near-identical neighbors crowd out coverage).
    // λ = 0.7 as INTEGER algebra: relevance and pair cosines quantize
    // to 1e-9 longs, score = 7·relq − 3·simq (exact ×10), ties →
    // smallest id. Each query is ONE row holding its candidates and
    // their 10×10 quantized similarity grid; the 3 picks run as an
    // `aggregate` over that row and replay bit-for-bit. At 100 TB the
    // candidate set comes from the ANN index; the rerank touches k²
    // pairs per query.
    "embed_mmr_rerank" -> ((s, dir) => {
      import graft.expressions.DotProduct
      def cos(a: Column, b: Column) = DotProduct(a, b) /
        (sqrt(DotProduct(a, a)) * sqrt(DotProduct(b, b)))
      def q9(x: Column) = floor(x * 1e9 + lit(0.5)).cast("long")
      val nCand = 10
      require(nCand <= SMAX, s"MMR candidate count $nCand exceeds SMAX = $SMAX")
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val c = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val cand = c.crossJoin(broadcast(q))
        .withColumn("cosine", cos(col("qv"), col("cv")))
        .withColumn("rnk", row_number().over(wq)).where(col("rnk") <= nCand)
        .groupBy(col("query_id"))
        .agg(array_sort(collect_list(struct(col("neighbor_id"), col("cv"),
          q9(col("cosine")).as("relq"), col("cosine")))).as("c"))
      val cs = col("c")
      // sim(i)(j) = quantized cosine of candidate i to candidate j
      val grid = transform(cs, a =>
        transform(cs, b => q9(cos(a("cv"), b("cv")))))
      // the best unpicked candidate index, ties → smallest id; null once
      // every candidate is picked
      def best(sim: Column, picked: Column): Column = {
        def score(i: Column) = when(size(picked) === 0, cs(i)("relq"))
          .otherwise(lit(7) * cs(i)("relq") -
            lit(3) * array_max(transform(picked, p => sim(i)(p))))
        array_min(transform(
          filter(sequence(lit(0), size(cs) - 1),
            i => !array_contains(picked, i)),
          i => struct((-score(i)).as("k"), cs(i)("neighbor_id").as("id"),
            i.as("i"))))("i")
      }
      cand.select(col("query_id"), cs, let(grid) { sim =>
          aggregate(sequence(lit(1), lit(3)), array().cast("array<int>"),
            (picked, _) => concat(picked, array(best(sim, picked))))
        }.as("picked"))
        .select(col("query_id"), cs,
          posexplode(col("picked")).as(Seq("p", "i")))
        .where(col("i").isNotNull)
        .select(col("query_id"), (col("p") + 1).cast("long").as("pick"),
          cs(col("i"))("neighbor_id").as("neighbor_id"),
          round(cs(col("i"))("cosine"), 6).as("cosine"))
    }),
    // Leave-one-out kNN label accuracy (op 360; the probe-accuracy
    // representation metric — "do nearest neighbors share labels", the
    // supervised complement of recall/NDCG): predicted label = majority
    // vote of the op-150 graph's 3 neighbors (ties → smallest label,
    // deterministic), accuracy per class from exact counts. Reuses the
    // kNN edge list; votes/majority are keyed windows over ≤3-row
    // groups.
    "ann_knn_classifier" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val g = Similarity.knnGraph(emb, "vec_id", "embedding", 3, EmbDim,
          planes = annPlanes(s))
        .select(col("query_id"), col("neighbor_id"))
      val votes = g.join(emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("nlabel")), "neighbor_id")
        .groupBy(col("query_id"), col("nlabel")).agg(count(lit(1)).as("v"))
      val wv = Window.partitionBy(col("query_id"))
        .orderBy(col("v").desc, col("nlabel"))
      val pred = votes.withColumn("r", row_number().over(wv))
        .where(col("r") === 1)
        .select(col("query_id").as("vec_id"), col("nlabel").as("pred"))
      pred.join(emb.select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum((col("pred") === col("label")).cast("long")).as("n_correct"))
        .select(col("label").cast("long").as("label"), col("n"),
          col("n_correct"),
          (floor(col("n_correct").cast("double") / col("n") * 1e6
            + lit(0.5)) / 1e6).as("accuracy"))
    }),
    // Triangle counting + local clustering coefficient on the op-150
    // kNN graph (op 341; the classic two-join distributed shape) —
    // "how clique-y is each embedding's neighborhood", the community/
    // redundancy diagnostic PageRank (op 317) can't see. Canonical
    // a<b<c ordering counts each triangle once: und(a,b) ⋈ und(b,c)
    // gives wedges (a<b<c by construction), the second join checks the
    // closing edge (a,c). Edge list is n·k rows; both joins key on a
    // single vertex — no all-pairs anywhere. und is localCheckpointed
    // (used 4×: two wedge legs, the closer, degrees).
    "ann_triangles" -> ((s, dir) => {
      val g = Similarity.knnGraph(tbl(s, dir, "embeddings"), "vec_id",
          "embedding", 3, EmbDim, planes = annPlanes(s))
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      val und = g.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct().localCheckpoint()
      val wedges = und.join(und.select(col("a").as("b"), col("b").as("c")),
        "b")
      val tris = wedges
        .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
        .select(col("a"), col("b"), col("c"))
      val perV = tris
        .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
        .groupBy(col("vec_id")).agg(count(lit(1)).as("n_tri"))
      val deg = und.select(explode(array(col("a"), col("b"))).as("vec_id"))
        .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
      deg.join(perV, Seq("vec_id"), "left")
        .select(col("vec_id"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
          when(col("degree") >= 2,
            floor(lit(2.0) * coalesce(col("n_tri"), lit(0L))
              / (col("degree") * (col("degree") - 1)) * 1e6 + lit(0.5)) / 1e6)
            .otherwise(lit(0.0)).as("clustering"))
    }),
    // Truncated-embedding recall (op 171, the Matryoshka question):
    // how much top-k fidelity survives keeping only the first half of
    // each vector — recallAtK with the truncated-space brute top-k as
    // "approx" vs the full-dimension ground truth. At 100 TB this is
    // the measured basis for halving the vector store.
    "ann_recall_truncated" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      def half(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("embedding", slice(col("embedding"), 1, EmbDim / 2))
      val q = e.where(col("vec_id") < 5)
      val c = e.where(col("vec_id") >= 5)
      Similarity.recallAtK(
          Similarity.bruteForceTopK(half(q), half(c), "vec_id",
            "embedding", 3),
          Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 3), 3)
        .select(col("query_id"), col("n_hits"),
          round(col("recall"), 6).as("recall"))
    }),
    // Recall@3 of the LSH index vs brute-force ground truth (op 158):
    // the tuning feedback loop — left join from the exact side keeps
    // zero-recall queries visible.
    "ann_recall" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val c = e.where(col("vec_id") >= 5)
      Similarity.recallAtK(
          Similarity.lshTopK(q, c, "vec_id", "embedding", 3, EmbDim),
          Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 3), 3)
        .select(col("query_id"), col("n_hits"),
          round(col("recall"), 6).as("recall"))
    }),
    // NDCG@3 of the LSH ranking vs brute truth (op 318; the
    // POSITION-aware companion to op 158's recall — recall can't see
    // that the one true neighbor sits at rank 3, NDCG can). Binary
    // relevance against the exact top-3; the rank discounts
    // 1/log2(i+1) are PRECOMPUTED 1e-9-grid integer constants
    // (1e9, 630929754, 5e8 — no libm in either engine), so per-query
    // DCG is an exact long sum and NDCG one double division by the
    // constant ideal (2130929754). Queries whose LSH buckets return
    // nothing keep a 0 row via the left join from the query set.
    "ann_ndcg" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val c = e.where(col("vec_id") >= 5)
      val gt = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("rel"))
      val disc = when(col("rank") === 1, 1000000000L)
        .when(col("rank") === 2, 630929754L).otherwise(500000000L)
      val scored = Similarity.lshTopK(q, c, "vec_id", "embedding", 3, EmbDim)
        .join(gt, Seq("query_id", "neighbor_id"), "left")
        .withColumn("g", coalesce(col("rel"), lit(0L)) * disc)
        .groupBy(col("query_id"))
        .agg(sum(col("g")).as("dcg"),
          sum(coalesce(col("rel"), lit(0L))).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(scored, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("dcg"), lit(0L)).cast("double")
            / 2130929754.0, 6).as("ndcg"))
    }),
    // IVF tuning curve (op 237, the op-168 recall evaluation swept
    // over nProbe): recall@3 vs exact ground truth at nProbe ∈
    // {1,2,4} — the measured probe/recall trade every IVF deployment
    // sizes against (recall rises with probes, cost is
    // nProbe·n/nCells). Ground truth computed ONCE; mean recall is
    // the exact integer ratio Σhits/(3·queries).
    "ann_recall_vs_probes" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val c = e.where(col("vec_id") >= 5)
      // r14: the IVF index (centroids + cell-assigned corpus) is
      // IDENTICAL across the three probe settings — build it ONCE and
      // pin it (the ivfCorpusIndex "materialize the index relations"
      // convention) instead of re-running the N·√n assignment pass per
      // probe point; pin the exact baseline too (Catalyst re-plans a
      // shared DataFrame subtree per consumer). Same deterministic
      // index → identical recall rows.
      val (cent0, cells0) =
        Similarity.ivfCorpusIndex(c, "vec_id", "embedding", nCells = 16)
      val cent = cent0.localCheckpoint()
      val cells = cells0.localCheckpoint()
      val exact = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 3)
        .localCheckpoint()
      Seq(1, 2, 4).map { p =>
        Similarity.recallAtK(
            Similarity.ivfSearchIndexed(q, "vec_id", "embedding", 3,
              nProbe = p, cent, cells),
            exact, 3)
          .agg(count(lit(1)).as("n_queries"),
            sum(col("n_hits")).as("total_hits"))
          .select(lit(p).as("n_probe"), col("n_queries"), col("total_hits"),
            round(col("total_hits").cast("double") /
              (col("n_queries") * 3).cast("double"), 6).as("recall"))
      }.reduce(_.unionByName(_))
    }),
    "ann_topk_ivf" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
    }),
    // ---- product quantization (op 87): codes + ADC search
    "embed_pq_codes" -> ((s, dir) =>
      graft.operators.Pq.encode(
          tbl(s, dir, "embeddings").where(col("vec_id") >= 5),
          "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("sub").cast("long").as("sub"),
          col("code"))),
    "ann_topk_pq" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      graft.operators.Pq.adcTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("adc_d2"))
    }),
    "embed_pq_trained" -> ((s, dir) =>
      graft.operators.Pq.encode(
          tbl(s, dir, "embeddings").where(col("vec_id") >= 5),
          "vec_id", "embedding", iters = 2)
        .select(col("id").as("vec_id"), col("sub").cast("long").as("sub"),
          col("code"))),
    "ann_topk_ivfpq" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      graft.operators.Pq.ivfAdcTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3, nCells = 16, nProbe = 4)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("adc_d2"))
    }),
    // Batch twin of streaming/EventStream.windowedStats — tumbling
    // 1h windows; identical semantics run under readStream + watermark
    // (StreamingSpec exercises that path).
    // Salted two-phase aggregation (op 64): results must equal the
    // plain groupBy — the salt is an internal execution detail. Sum in
    // decimal so the two-phase re-association can't wiggle low bits;
    // the distinct count is integer-exact by construction.
    "skew_salted_agg" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("v", col("value").cast("decimal(30,10)"))
        .withColumn("bucket", (col("event_id") % 1000).cast("long"))
      val sums = graft.operators.Skew.saltedSum(
        e, Seq("event_type"), "v", saltCol = "event_id", salts = 16)
      val dc = graft.operators.Skew.saltedCountDistinct(
        e, Seq("event_type"), "bucket", salts = 16)
      sums.join(dc, "event_type")
        .select(col("event_type"),
          round(col("sum_v").cast("double"), 4).as("sum_value"),
          col("distinct_bucket"))
    }),

    "window_agg" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(30,10)")).cast("double"), 4)
            .as("sum_value"))
        .select(unix_micros(col("w.start")).as("ws"), col("event_type"),
          col("n"), col("sum_value"))),

    // ---- resample / as-of / prob_mom (ops 39, 42, 19)
    "df_resample_returns" -> ((s, dir) =>
      Resample.resampleMean(
          withRet(s, dir).where(col("event_type") === "click")
            .select(col("event_type"), col("ret"), col("ts"), col("event_id")),
          "ret", Seq("event_type"), Seq("ts", "event_id"), 50)
        .select(col("trial"), col("stat"))),
    // Every event_type resampled as its own series in one plan — the
    // shape that holds for thousands of assets (keyed windows + keyed
    // draw join; no global sort, no driver count).
    "df_resample_by_key" -> ((s, dir) =>
      Resample.resampleMean(
        withRet(s, dir)
          .select(col("event_type"), col("ret"), col("ts"), col("event_id")),
        "ret", Seq("event_type"), Seq("ts", "event_id"), 20)),
    // Reference resample_returns applies a stat fn returning a row of
    // named stats per trial (df/core.py:36-44): mean + vol here, both
    // from exact quantized-integer sums so any engine reproduces them.
    "df_resample_multistat" -> ((s, dir) =>
      Resample.resampleStats(
          withRet(s, dir).where(col("event_type") === "click")
            .select(col("event_type"), col("ret"), col("ts"), col("event_id")),
          "ret", Seq("event_type"), Seq("ts", "event_id"), 20)(
          // 1e4 quantization (not 1e6): q² must stay inside int64 even
          // for the series' worst ~2e3 return spike (2e7² × n ≪ 2^63).
          "mean" -> (v => {
            val q = sum(round(v * 1e4).cast("long")).cast("double")
            round(q / (count(lit(1)) * 1e4), 6)
          }),
          "vol" -> (v => {
            val q  = round(v * 1e4).cast("long")
            val n  = count(lit(1)).cast("double")
            val s1 = sum(q).cast("double")
            val s2 = sum(q * q).cast("double")
            round(sqrt((s2 - s1 * s1 / n) / (n - lit(1.0))) / 1e4, 6)
          }))
        .select(col("trial"), col("mean"), col("vol"))),
    "asof_join" -> ((s, dir) => {
      val e = events(s, dir)
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("quote_value"))
      AsOfJoin.backward(trades, quotes, "user_id", "ts", Seq("quote_id", "quote_value"))
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("trade_value"),
          col("right_quote_id").as("quote_id"),
          round(col("right_quote_value"), 6).as("quote_value"))
    }),
    "asof_join_forward" -> ((s, dir) => {
      val e = events(s, dir)
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("quote_value"))
      AsOfJoin.forward(trades, quotes, "user_id", "ts", Seq("quote_id", "quote_value"))
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("trade_value"),
          col("right_quote_id").as("quote_id"),
          round(col("right_quote_value"), 6).as("quote_value"))
    }),
    // Upsample + forward-fill (op 232, the reference host API's
    // upsample/fill_forward lineage): a regular hourly grid per
    // series, each grid point carrying the last observation at or
    // before it. Spark-first the fill IS the op-42 backward as-of
    // join of the generated grid against the events — one key
    // shuffle, no per-key loops; sequence() builds the grid
    // in-plan, no driver materialization.
    "df_upsample_ffill" -> ((s, dir) => {
      val e = events(s, dir)
      val grid = e.groupBy(col("event_type"))
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          max(col("ts")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"),
            expr("interval 1 hour"))).as("ts"))
      AsOfJoin.backward(grid,
          e.select(col("event_type"), col("ts"), col("event_id"),
            col("value")),
          "event_type", "ts", Seq("event_id", "value"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("right_event_id").as("src_event_id"),
          round(col("right_value"), 6).as("value"))
    }),
    // Rolling median + quartiles (op 233, polars rolling_quantile
    // lineage): R-7 interpolated quantiles over a 20-row sliding
    // frame. No prefix-sum form exists for order statistics (the
    // op-67 maxDD argument), so this stays a genuine frame — the
    // one rolling family member that must re-aggregate per row.
    "eod_rolling_median" -> ((s, dir) => {
      val wF = wT.rowsBetween(-19, Window.currentRow)
      // r14: ONE array-percentile buffer per frame instead of three
      // scalar ones — Percentile is imperative (re-accumulated per
      // moving frame), so fusing the three quantiles into one call
      // cuts the per-row frame work 3× with identical R-7 values.
      val p3 = percentile(col("ret"),
        array(lit(0.25), lit(0.5), lit(0.75))).over(wF)
      withRet(s, dir)
        .select(col("event_type"), col("event_id"), p3.as("_p3"))
        .select(col("event_type"), col("event_id"),
          (round(element_at(col("_p3"), 1), 6) + lit(0.0)).as("roll_p25"),
          (round(element_at(col("_p3"), 2), 6) + lit(0.0)).as("roll_median"),
          (round(element_at(col("_p3"), 3), 6) + lit(0.0)).as("roll_p75"))
    }),
    // Nearest as-of (op 231, polars strategy="nearest" — the third
    // join_asof strategy, completing ops 42/122): smallest absolute
    // time distance wins, ties to the backward match.
    "asof_join_nearest" -> ((s, dir) => {
      val e = events(s, dir)
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("quote_value"))
      AsOfJoin.nearest(trades, quotes, "user_id", "ts",
          Seq("quote_id", "quote_value"))
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("trade_value"),
          col("right_quote_id").as("quote_id"),
          round(col("right_quote_value"), 6).as("quote_value"),
          col("right_dist_us").as("dist_us"))
    }),
    // Tolerance-bounded as-of (SURVEY §2 op 122): same trade↔quote
    // alignment, but a quote older than 1 day is no match — the
    // stale-quote guard. Mixed outcome by construction (median age in
    // the testdata is ~1.4 days, p10 ~6 h).
    "asof_join_tolerance" -> ((s, dir) => {
      val e = events(s, dir)
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("quote_value"))
      AsOfJoin.backwardWithin(trades, quotes, "user_id", "ts",
          Seq("quote_id", "quote_value"), maxAgeUs = 86400L * 1000000L)
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("trade_value"),
          col("right_quote_id").as("quote_id"),
          round(col("right_quote_value"), 6).as("quote_value"),
          col("right_age_us").as("age_us"))
    }),
    // op 137: binned range join — every view inside a click's 10-minute
    // forward window, aggregated per window. Both the point and the
    // interval side are event-scale relations, so the bare BETWEEN
    // predicate would plan as a nested-loop join; the bin equi-key
    // (width = the window span, explode factor ≤ 2) turns it into an
    // ordinary shuffled join. All comparisons run in the integer-µs
    // domain on BOTH engines (ns-precision parquet truncates to µs
    // identically), and the left join back to the interval list keeps
    // zero-match windows in the report.
    "range_join_agg" -> ((s, dir) => {
      val e = events(s, dir)
      val us = unix_micros(col("ts"))
      val spanUs = 600000000L
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id").as("interval_id"), us.as("lo_us"),
          (us + lit(spanUs)).as("hi_us"))
      val views = e.where(col("event_type") === "view")
        .select(us.as("p_us"), col("value"))
      val agg = graft.operators.RangeJoin
        .binned(views, "p_us", clicks, "lo_us", "hi_us", binWidth = spanUs)
        .groupBy(col("interval_id"))
        .agg(count(lit(1)).as("n_views"),
          sum(col("value").cast("decimal(30,10)")).cast("double").as("sv"))
      clicks.select(col("interval_id"))
        .join(agg, Seq("interval_id"), "left")
        .select(col("interval_id"),
          coalesce(col("n_views"), lit(0L)).as("n_views"),
          (round(col("sv"), 6) + lit(0.0)).as("sum_value"))
    }),
    "eod_prob_mom" -> ((s, dir) => { // native t_cdf; oracle replays the
      // SAME continued fraction in a recursive CTE (see coreOracles)
      Graft.register(s)
      // Align series-a row i with series-b row i by pivoting on the
      // per-type row number: ONE window pass + one groupBy — the
      // filter/filter/self-join shape would run the window twice and
      // add a join shuffle. Unpaired rows yield a null side, which
      // avg/count(ra - rb) drop — identical to the inner join.
      withRet(s, dir)
        .where(col("event_type").isin("click", "view"))
        .withColumn("rn", row_number().over(wT))
        .groupBy(col("rn"))
        .agg(max(when(col("event_type") === "click", col("ret"))).as("ra"),
          max(when(col("event_type") === "view", col("ret"))).as("rb"))
        .agg(round(expr(Graft.probMomSql), 6).as("prob_mom"))
    }),
    // Companion that pins prob_mom's INPUTS in the oracle: the t-CDF
    // kernel itself has no SQL form (it stays t-table/reference-pinned
    // in spec), but the t-statistic and df feeding it are plain SQL —
    // this shrinks the unverified surface to just the CDF evaluation.
    "eod_prob_mom_inputs" -> ((s, dir) =>
      withRet(s, dir)
        .where(col("event_type").isin("click", "view"))
        .withColumn("rn", row_number().over(wT))
        .groupBy(col("rn"))
        .agg(max(when(col("event_type") === "click", col("ret"))).as("ra"),
          max(when(col("event_type") === "view", col("ret"))).as("rb"))
        .agg(
          round(avg(col("ra") - col("rb")) / stddev_samp(col("ra") - col("rb")), 6)
            .as("t_stat"),
          (count(col("ra") - col("rb")) - 1).as("t_df"))),

    // ---- cross-asset correlation + corpus n-gram stats
    "eod_corr_matrix" -> ((s, dir) => {
      // Bucket-pair shape (see Dedup): group the per-rn cross-section
      // once and emit type pairs inside it — the rn self-join would
      // run the returns window twice and shuffle both sides.
      val r = withRet(s, dir).withColumn("rn", row_number().over(wT))
        .select(col("event_type"), col("rn"), col("ret"))
      r.groupBy(col("rn"))
        .agg(collect_list(struct(col("event_type"), col("ret"))).as("l"))
        .select(explode(col("l")).as("a"), col("l"))
        .select(col("a"), explode(col("l")).as("b"))
        .where(col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
        .agg(round(corr(col("a.ret"), col("b.ret")), 6).as("corr"))
    }),
    // PCA market factor (op 305): the first principal component of
    // the K×K return-correlation matrix — the cross-sectional "market
    // mode" (loading per series, eigenvalue, share of total variance
    // λ/K). Everything is ENGINE-EXACT so a SQL oracle replays it:
    // returns quantize to the op-268 1e-6 grid, pair moments are
    // exact long/decimal sums over the rn-aligned cross-section (the
    // eod_corr_matrix bucket-pair shape — group the cross-section
    // once, emit pairs inside it, never a second returns window),
    // each correlation re-quantizes to 1e-6, and the 6 power
    // iterations run with the embed_power_iter integer conventions
    // (v at 1e-6, norms through decimal) on the one-row k×k grid of
    // [[pairGrid]]: the matrix-vector products are exact long sums,
    // the norm an exact decimal sum-of-squares → identical doubles, so
    // the oracle replays bit-for-bit. K ~ series count, so post-matrix
    // work is tiny at any data scale; the one data-sized pass is the
    // cross-section agg every matrix op here shares.
    "eod_pca_factor" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val nDec = col("n").cast("decimal(19,0)")
      val num = nDec * col("sab") - dec(col("sa")) * dec(col("sb"))
      val dxx = nDec * col("saa") - dec(col("sa")) * dec(col("sa"))
      val dyy = nDec * col("sbb") - dec(col("sb")) * dec(col("sb"))
      val rho = when(dxx > 0 && dyy > 0,
        num.cast("double") / sqrt(dxx.cast("double") * dyy.cast("double")))
        .otherwise(lit(0.0)) // flat series: no co-movement signal
      val rq = floor(rho * 1e6 + 0.5).cast("long")
      pairGrid(s, dir, "eod_pca_factor", rq, lit(0L)) { g =>
        val (ty, c) = (g("ty"), g("c"))
        // v ← normalize(R·v), the norm on exact decimal sums; the state
        // keeps the last norm for the eigenvalue/variance-share report.
        def step(v: Column): Column =
          let(transform(c, r => dot(r, v, lit(0L)))) { wv =>
            let(sqrt(aggregate(wv, d38(0L), (a, x) => a + dec(x) * dec(x))
                .cast("double"))) { nrm =>
              struct(transform(wv, x =>
                  floor(x.cast("double") / nrm * 1e6 + 0.5).cast("long"))
                  .as("v"), nrm.as("nrm"))
            }
          }
        val v0 = struct(transform(ty, _ => lit(1000000L)).as("v"),
          lit(0.0).as("nrm"))
        let(aggregate(sequence(lit(1), lit(6)), v0, (st, _) => step(st("v")))) {
            st =>
          transform(ty, (t, i) => struct(t.as("event_type"),
            (round(st("v")(i) / 1e6, 4) + lit(0.0)).as("loading"),
            (round(st("nrm") / 1e12, 6) + lit(0.0)).as("eigval"),
            (round(st("nrm") / 1e12 / size(ty), 4) + lit(0.0))
              .as("var_share")))
        }
      }
    }),
    // Tangency (max-Sharpe) portfolio (op 325; Markowitz 1952 /
    // Tobin 1958): w ∝ Σ⁻¹μ, the third member of the allocation
    // ladder (op 216 inverse-vol ignores covariance, op 306 risk
    // parity ignores μ, tangency uses both). The k×k solve is SIX
    // exact Jacobi sweeps w_i ← (μ_i·SW − Σ_{j≠i} C_ij w_j)/C_ii on
    // the SAME integer-grid covariance as eod_risk_parity: every
    // matrix-vector product is an exact decimal sum over quantized
    // longs, every new iterate re-floors onto the SW=1e9 weight grid,
    // so 6 rounds replay bit-for-bit on any engine/partitioning (the
    // oracle unrolls them). The synthetic event series are near-
    // uncorrelated, so the covariance is diagonally dominant and
    // Jacobi contracts; the spec asserts the residual ‖Σw−μ‖ shrinks
    // on the real testdata rather than trusting that. Weights are
    // L1-normalized (tangency is scale-free; Σ|w| is a stable
    // denominator where Σw can cross zero under shorting); per-period
    // portfolio Sharpe μᵀw/√(wᵀΣw) from the exact integer sums.
    "eod_tangency" -> ((s, dir) => {
      // μ on the 1e6-refined q grid; diagonal clamps at +1 raw unit
      // (a zero-variance series would make Jacobi divide by zero).
      val muqE = floor(col("sa").cast("double") * 1e6 /
        col("n").cast("double") + 0.5).cast("decimal(38,0)")
      pairGrid(s, dir, "eod_tangency", quantizedCov, d38(0L),
          "muq" -> muqE) { g =>
        val (ty, c, muq) = (g("ty"), g("c"), g("muq"))
        // wq_i ← ⌊(μ_i·SW − Σ_{j≠i} C_ij·w_j)/max(C_ii, 1)⌉, the
        // off-diagonal sum as the exact row sum minus its diagonal term
        def sweep(w: Column): Column = transform(muq, (m, i) =>
          floor((m * d38(1000000000L) -
              (dot(c(i), w, d38(0L)) - c(i)(i) * w(i))).cast("double") /
            greatest(c(i)(i), d38(1L)).cast("double") + 0.5)
            .cast("decimal(38,0)"))
        // w0 is the sweep from w = 0 (its off-diagonal sum is exactly
        // 0), then six more: seven sweeps from zero
        val zeros = transform(muq, _ => d38(0L))
        let(aggregate(sequence(lit(1), lit(7)), zeros, (w, _) => sweep(w))) {
            w =>
          // finals, exact decimal scalars: l1 = Σ|w|, pr = 1e21·μᵀw,
          // pv = 1e30·wᵀΣw (Σw on the full, unclamped matrix) →
          // Sharpe = pr/√pv/1e6
          val pv = dot(w, transform(c, r => dot(r, w, d38(0L))), d38(0L))
          let(struct(
              aggregate(w, d38(0L), (a, x) => a + abs(x)).as("l1"),
              (round(dot(muq, w, d38(0L)).cast("double") /
                sqrt(greatest(pv, d38(1L)).cast("double")) / 1e6, 6)
                + lit(0.0)).as("sharpe"))) { f =>
            transform(ty, (t, i) => struct(t.as("event_type"),
              (round(w(i).cast("double") / f("l1").cast("double"), 6)
                + lit(0.0)).as("weight"),
              f("sharpe").as("port_sharpe")))
          }
        }
      }
    }),
    // Equal-risk-contribution weights (op 306; "risk parity", Maillard/
    // Roncalli/Teïletche 2010): weights where each series contributes
    // the same share of portfolio variance — the allocation ffn users
    // build on top of calc_stats, and the covariance-aware upgrade of
    // eod_inverse_vol. 4 rounds of the multiplicative fixed point
    // w ← normalize(√(w/(Cw))) (RC_i = w_i(Cw)_i equalizes at the
    // fixed point) on the same exact K×K machinery as eod_pca_factor:
    // covariance entries quantize to integer 1e-12-grid decimals, the
    // matrix-vector product is an exact decimal sum, and each round
    // re-quantizes deterministically — scale-free via the max(u)
    // pivot (max of identical doubles is order-free, unlike their
    // sum). (Cw)_i floors at +1 raw unit: a dominant negative
    // covariance row can push it ≤0 where √ is undefined — the same
    // lazy-guard rule as safeDiv, and the oracle replays it. Output:
    // weight, realized risk-contribution share, portfolio vol.
    "eod_risk_parity" -> ((s, dir) => {
      pairGrid(s, dir, "eod_risk_parity", quantizedCov, d38(0L)) { g =>
        val (ty, c) = (g("ty"), g("c"))
        def cw(w: Column): Column = transform(c, r => dot(r, w, d38(0L)))
        // one round of w ← normalize(√(w/(Cw))): the greatest()-clamped
        // denominator, the max-of-u pivot onto the 1e12 grid, then the
        // 1e8 weight grid
        def step(w: Column): Column =
          let(zip_with(w, cw(w), (x, r) =>
              sqrt(x.cast("double") / greatest(r, d38(1L)).cast("double")))) {
              u =>
            let(array_max(u)) { mx =>
              let(transform(u, x => floor(x / mx * 1e12 + 0.5).cast("long"))) {
                  uq =>
                let(aggregate(uq, lit(0L), _ + _)) { su =>
                  transform(uq, x => floor(x.cast("double") /
                    su.cast("double") * 1e8 + 0.5).cast("long"))
                }
              }
            }
          }
        // w0 = equal weight on the 1e8 grid, then 4 rounds
        val w0 = transform(ty, _ =>
          floor(lit(1e8) / size(ty) + 0.5).cast("long"))
        let(aggregate(sequence(lit(1), lit(4)), w0, (w, _) => step(w))) { w =>
          // finals: wr_i = w_i·(Cw)_i exact decimal, twr = Σ wr
          let(zip_with(cw(w), w, _ * _)) { wr =>
            let(aggregate(wr, d38(0L), _ + _)) { twr =>
              transform(ty, (t, i) => struct(t.as("event_type"),
                (round(w(i) / 1e8, 6) + lit(0.0)).as("weight"),
                (round(wr(i).cast("double") / twr.cast("double"), 4)
                  + lit(0.0)).as("risk_share"),
                // wᵀCw is PSD up to ±0.5/entry quantization — clamp the dip
                (round(sqrt(greatest(twr, d38(0L)).cast("double"))
                  / 1e8 / 1e6, 6) + lit(0.0)).as("port_vol")))
            }
          }
        }
      }
    }),
    // Two-factor OLS (op 316; the CAPM grid's multi-factor successor —
    // Fama/French-style attribution): each non-factor series regressed
    // on the rn-aligned click AND view return factors via the closed
    // 2×2 normal equations. Returns quantize to 1e-6 longs, every raw
    // moment is an exact long/decimal sum (one keyed agg after the
    // shared rn window + factor pivot join), and the determinant
    // algebra runs in double on those exact integers — deterministic
    // on any engine, with the oracle replaying identical
    // parenthesization. det ≤ 0 (collinear factors) takes the null
    // path, the safeDiv convention.
    "eod_factor_ols" -> ((s, dir) => {
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("rn", row_number().over(wT))
        .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
      val f = r.where(col("event_type").isin("click", "view"))
        .groupBy(col("rn")).agg(
          max(when(col("event_type") === "click", col("q"))).as("x1"),
          max(when(col("event_type") === "view", col("q"))).as("x2"))
        .where(col("x1").isNotNull && col("x2").isNotNull)
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val m = r.where(!col("event_type").isin("click", "view"))
        .select(col("event_type"), col("rn"), col("q").as("y"))
        .join(f, "rn")
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
          sum(col("y")).as("sy"),
          sum(dec(col("x1")) * dec(col("x1"))).as("s11"),
          sum(dec(col("x2")) * dec(col("x2"))).as("s22"),
          sum(dec(col("x1")) * dec(col("x2"))).as("s12"),
          sum(dec(col("x1")) * dec(col("y"))).as("s1y"),
          sum(dec(col("x2")) * dec(col("y"))).as("s2y"),
          sum(dec(col("y")) * dec(col("y"))).as("syy"))
      val nD = col("n").cast("double")
      def d(c: String) = col(c).cast("double")
      val a11 = d("s11") - d("s1") * d("s1") / nD
      val a22 = d("s22") - d("s2") * d("s2") / nD
      val a12 = d("s12") - d("s1") * d("s2") / nD
      val c1y = d("s1y") - d("s1") * d("sy") / nD
      val c2y = d("s2y") - d("s2") * d("sy") / nD
      val cyy = d("syy") - d("sy") * d("sy") / nD
      val det = a11 * a22 - a12 * a12
      val b1 = (a22 * c1y - a12 * c2y) / det
      val b2 = (a11 * c2y - a12 * c1y) / det
      val alpha = (d("sy") - b1 * d("s1") - b2 * d("s2")) / nD / 1e6
      val r2 = (b1 * c1y + b2 * c2y) / cyy
      m.select(col("event_type"), col("n"),
          (round(when(det > 0, b1), 6) + lit(0.0)).as("beta_click"),
          (round(when(det > 0, b2), 6) + lit(0.0)).as("beta_view"),
          (round(when(det > 0, alpha), 6) + lit(0.0)).as("alpha"),
          (round(when(det > 0 && cyy > 0, r2), 6) + lit(0.0)).as("r2"))
    }),
    // PageRank over the op-150 kNN graph (op 317; corpus centrality —
    // the representative-document signal cluster-based curation ranks
    // by). INTEGER micro-rank algebra end-to-end: ranks live on the
    // 1e-9 grid as longs, per-edge contribution is integer division by
    // out-degree, damping 0.85 is ·17 div 20 — every iteration is
    // exact long arithmetic with NO float summation anywhere, so any
    // engine/partitioning replays it bit-for-bit (the dropped division
    // remainders are the standard integer-PageRank mass leak; both
    // engines drop identical remainders). 3 iterations on the ≤3N-row
    // edge relation, localCheckpoint per step; the graph build is the
    // one data-sized stage (same capped-bucket shape as op 150).
    "embed_pagerank" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      // r15 note: pinning `edges` itself before this join was tried
      // and measured FLAT (interleaved min-of-3, 2.72 → 2.83 s) — the
      // two edge legs sit inside ONE plan here, where ReuseExchange
      // can share the identical pairs-aggregation subtree, unlike the
      // cross-action re-derivations the r14/r15 pins target. Reverted
      // per the r14 rule: keep only pins that pay for their
      // materialization.
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding", 3,
          EmbDim, planes = annPlanes(s))
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      val edgesOd = edges.join(
          edges.groupBy(col("src")).agg(count(lit(1)).as("od")), "src")
        .localCheckpoint()
      val nodes = emb.select(col("vec_id"))
        .crossJoin(broadcast(emb.agg(count(lit(1)).as("nn"))))
        .localCheckpoint()
      val r0 = nodes.select(col("vec_id"), col("nn"),
        expr("1000000000 div nn").as("rq"))
      val rF = (1 to 3).foldLeft(r0) { (rank, _) =>
        val inflow = edgesOd
          .join(rank.select(col("vec_id").as("src"), col("rq")), "src")
          .withColumn("c", expr("rq div od"))
          .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
        val next = nodes
          .join(inflow, col("vec_id") === col("dst"), "left")
          .select(col("vec_id"), col("nn"),
            (expr("150000000 div nn") +
              expr("(17 * coalesce(inflow, 0L)) div 20")).as("rq"))
          .localCheckpoint()
        org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(rank)
        next
      }
      rF.select(col("vec_id"),
          (col("rq").cast("double") / 1e9).as("pagerank"))
    }),
    // Zipf fit per source (op 149): OLS slope of ln(freq) on ln(rank)
    // over the top token ranks — the corpus-health diagnostic (natural
    // text ≈ −1; templated/spam corpora flatten or steepen). One token
    // explode + one (source, tok) agg + a per-source window rank +
    // regr_slope: every stage keyed, nothing single-partition.
    // Code-vs-prose detection (op 396; the The-Stack/StarCoder
    // curation gate): per doc the code-symbol character ratio
    // ({}();=<>[]#), digit ratio and programming-keyword token hits,
    // flagged is_code when the QUANTIZED symbol ratio clears 5% or
    // keywords ≥ 3 — deterministic integer counts + character-class
    // regexes (Java and RE2 agree), map-only, whole-stage codegen.
    "text_code_detection" -> ((s, dir) => {
      val t = col("text")
      val nChars = length(t)
      val sym = nChars - length(regexp_replace(t, "[{}();=<>\\[\\]#]", ""))
      val digits = nChars - length(regexp_replace(t, "[0-9]", ""))
      val kws = Seq("def", "class", "return", "import", "if", "else",
        "for", "while", "function", "var", "int", "void")
      val kw = size(filter(Text.tokens(t),
        tok => kws.map(k => tok === k).reduce(_ || _)))
      val symQ = floor(sym.cast("double") / nChars.cast("double") * 1e6
        + 0.5) / 1e6
      tbl(s, dir, "documents")
        .where(nChars > 0)
        .select(col("doc_id"), nChars.cast("long").as("n_chars"),
          symQ.as("sym_ratio"),
          (floor(digits.cast("double") / nChars.cast("double") * 1e6 + 0.5)
            / 1e6).as("digit_ratio"),
          kw.cast("long").as("kw_hits"),
          when(symQ > 0.05 || kw >= 3, 1L).otherwise(0L).as("is_code"))
    }),
    // Term burstiness (op 382; Church & Gale 1995): contagious terms
    // (names, topics) concentrate in few docs — variance-to-mean
    // ratio of per-doc counts WITH zeros ≫ 1 — while function words
    // sit Poisson-flat near 1. VMR over all N docs from exact
    // integers only: (N·Σc² − (Σc)²)/(N·Σc); the containing-doc mean
    // Σc/df likewise. Token explode → two keyed aggs (both map-side
    // combinable) + a 1-row broadcast; the report is
    // TakeOrderedAndProject's top-50 by burden (no global sort at
    // scale).
    "text_term_burstiness" -> ((s, dir) => {
      val tc = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      val per = tc.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
          sum(col("c") * col("c")).as("c2"))
      val nd = tbl(s, dir, "documents").agg(count(lit(1)).as("nd"))
      per.where(col("df") >= 5).crossJoin(broadcast(nd))
        .select(col("term"), col("df"), col("total"),
          (floor(col("total").cast("double") / col("df").cast("double")
            * 1e6 + 0.5) / 1e6).as("mean_per_doc"),
          (floor((col("nd").cast("double") * col("c2").cast("double")
            - col("total").cast("double") * col("total").cast("double"))
            / (col("nd").cast("double") * col("total").cast("double"))
            * 1e6 + 0.5) / 1e6).as("vmr"))
        .orderBy(col("total").desc, col("term")).limit(50)
    }),
    "text_zipf" -> ((s, dir) => {
      val freq = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("cnt").desc, col("tok"))
      freq.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 30)
        .groupBy(col("source"))
        .agg(
          (round(regr_slope(log(col("cnt")), log(col("rnk"))), 6) + lit(0.0))
            .as("zipf_slope"),
          (round(corr(log(col("cnt")), log(col("rnk"))), 6) + lit(0.0))
            .as("zipf_r"),
          count(lit(1)).as("n_types"))
    }),
    "text_top_ngrams" -> ((s, dir) => {
      val g = tbl(s, dir, "documents")
        .select(col("lang"), explode(Text.ngrams(col("text"), 2)).as("ng"))
        .groupBy(col("lang"), col("ng")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("ng"))
      g.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 5)
        .select(col("lang"), col("rnk"), col("ng"), col("n"))
    }),
    // Bigram concentration (op 392): what fraction of each language's
    // bigram MASS the top-100 bigrams carry — the boilerplate /
    // template-saturation gauge (a high top-100 share means the
    // corpus repeats itself; the WIMBD-style "what's in my data"
    // count). Same keyed count + per-lang rank window as op 71, one
    // extra conditional sum; all-integer until the final ratio.
    "corpus_ngram_coverage" -> ((s, dir) => {
      val g = tbl(s, dir, "documents")
        .select(col("lang"), explode(Text.ngrams(col("text"), 2)).as("ng"))
        .groupBy(col("lang"), col("ng")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("ng"))
      g.withColumn("rnk", row_number().over(w))
        .groupBy(col("lang"))
        .agg(sum(col("n")).as("total_bigrams"),
          count(lit(1)).as("distinct_bigrams"),
          sum(when(col("rnk") <= 100, col("n")).otherwise(0L)).as("_top"))
        .select(col("lang"), col("total_bigrams"), col("distinct_bigrams"),
          (floor(col("_top").cast("double")
            / col("total_bigrams").cast("double") * 1e6 + 0.5) / 1e6)
            .as("top100_coverage"))
    }),

    // Daily event-volume anomaly monitor (op 354; the ops staple —
    // "did ingest break yesterday"): per-day counts, robust center via
    // the op-116 R-7 median/MAD machinery (1-row broadcasts), modified
    // z = (n − med)/(1.4826·MAD), flag at |z| > 3. Day counts are
    // exact integers; med/MAD are R-7 on integers (half-integers at
    // worst) — identical doubles both engines.
    "events_anomaly_days" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        .agg(count(lit(1)).as("n"))
      val med = daily.agg(
        graft.functions.Stats.quantile(col("n"), 0.5).as("med"))
      val dev = daily.crossJoin(broadcast(med))
      val mad = dev.agg(graft.functions.Stats
        .quantile(abs(col("n") - col("med")), 0.5).as("mad"))
      val z = when(col("mad") > 0,
        (col("n") - col("med")) / (lit(1.4826) * col("mad")))
      dev.crossJoin(broadcast(mad))
        .select(col("day_us"), col("n"),
          round(z, 6).as("z_mod"),
          when(abs(round(z, 6)) > 3.0, 1L).otherwise(0L).as("is_anomaly"))
    }),

    // ---- distribution stats
    "stats_quantiles" -> ((s, dir) =>
      // r14: one array-percentile buffer per group instead of three —
      // identical R-7 values, one sort not three.
      events(s, dir).groupBy(col("event_type"))
        .agg(percentile(col("value"),
          array(lit(0.5), lit(0.95), lit(0.99))).as("_q"))
        .select(col("event_type"),
          round(element_at(col("_q"), 1), 6).as("p50"),
          round(element_at(col("_q"), 2), 6).as("p95"),
          round(element_at(col("_q"), 3), 6).as("p99"))),
    "stats_histogram" -> ((s, dir) =>
      graft.functions.Stats.histogram(events(s, dir), Seq("event_type"), "value", 50.0)
        .select(col("event_type"), col("bucket"), round(col("bucket_lo"), 2).as("bucket_lo"),
          col("n"))),
    // Robust per-group stats (op 116): median / MAD / winsorized mean —
    // quantile bands via per-group window, one agg pass over the same
    // partitioning.
    "stats_robust" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      // r14: one array-percentile buffer per partition instead of
      // three scalar ones — identical R-7 values, one sort not three.
      events(s, dir)
        .withColumn("_q3", percentile(col("value"),
          array(lit(0.5), lit(0.05), lit(0.95))).over(wSym))
        .withColumn("med", element_at(col("_q3"), 1))
        .withColumn("lo", element_at(col("_q3"), 2))
        .withColumn("hi", element_at(col("_q3"), 3))
        .groupBy(col("event_type"))
        .agg(round(min(col("med")), 6).as("median"),
          round(graft.functions.Stats.madFromMedian(col("value"), col("med")), 6).as("mad"),
          round(graft.functions.Stats.winsorizedMean(
            col("value"), col("lo"), col("hi")), 6).as("winsor_mean"))
    }),
    // Two-sample Kolmogorov–Smirnov test (op 225): each series'
    // return distribution vs the 'view' benchmark — the numeric
    // drift detector (distribution shift per shard/day is the 100 TB
    // use). D evaluates on the GLOBAL 1e-6-quantized value grid
    // (step-function CDFs: a superset grid never changes the max),
    // and the max runs over the INTEGER numerator |ca·nb − cb·na| so
    // D is an exact rational; λ and the asymptotic p-value are then
    // identical double algebra. Dense grid = distinct values ×
    // broadcast(5 types) — no all-pairs, one cumulative window.
    // Population stability index (op 320; the industry-standard
    // feature-drift score credit/feature monitoring reports —
    // PSI = Σ_bins (p−q)·ln(p/q), <0.1 stable / >0.25 shifted): each
    // series' return distribution vs the view benchmark over fixed
    // 1e-3-wide bins clamped to ±10 (the op-225 family's binning,
    // coarser so bins are populated). Bin counts are exact integers;
    // each PSI term is ln of a ratio of exact rationals — a
    // deterministic double on identical integers, so the 6dp round is
    // engine-stable. Bins empty on EITHER side are skipped (the
    // standard ε-free convention) and reported via n_bins. Keyed
    // aggs only; at 100 TB this is two map-side-combined counts.
    "stats_psi" -> ((s, dir) => {
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("bin", greatest(lit(-10000L),
          least(lit(10000L), floor(col("ret") * 1000.0).cast("long"))))
      val cnt = r.groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val tot = r.groupBy(col("event_type")).agg(count(lit(1)).as("nt"))
      val ct = cnt.join(tot, "event_type")
      val aSide = ct.where(col("event_type") =!= "view")
        .select(col("event_type"), col("bin"), col("c").as("ca"),
          col("nt").as("na"))
      val bSide = ct.where(col("event_type") === "view")
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
    }),
    "stats_ks_test" -> ((s, dir) => {
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
      val cnt = r.groupBy(col("event_type"), col("q"))
        .agg(count(lit(1)).as("c"))
      val grid = cnt.select(col("q")).distinct()
      val types = cnt.select(col("event_type")).distinct()
      val dense = grid.crossJoin(broadcast(types))
        .join(cnt, Seq("event_type", "q"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val wq = Window.partitionBy(col("event_type")).orderBy(col("q"))
      val cum = dense.withColumn("cc", sum(col("c")).over(wq))
      val tot = r.groupBy(col("event_type")).agg(count(lit(1)).as("nt"))
      val cumT = cum.join(tot, "event_type")
      val aSide = cumT.where(col("event_type") =!= "view")
        .select(col("event_type"), col("q"), col("cc").as("ca"),
          col("nt").as("na"))
      val bSide = cumT.where(col("event_type") === "view")
        .select(col("q"), col("cc").as("cb"), col("nt").as("nb"))
      val m = aSide.join(bSide, "q")
        .withColumn("num", abs(col("ca") * col("nb") - col("cb") * col("na")))
        .groupBy(col("event_type"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          max(col("num")).as("mx"))
      val dd = col("mx").cast("double") /
        (col("n_a") * col("n_b")).cast("double")
      val lam = col("dd") * sqrt((col("n_a") * col("n_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double"))
      m.withColumn("dd", dd)
        .withColumn("lam", lam)
        .select(col("event_type"), col("n_a"), col("n_b"),
          round(col("dd"), 6).as("ks_d"),
          round(least(lit(1.0),
            lit(2.0) * exp(lit(-2.0) * col("lam") * col("lam"))), 6)
            .as("p_value"))
    }),
    // Mann–Whitney U rank-sum test (op 240, the op-225 KS's rank
    // sibling — sensitive to location shift where KS reacts to any
    // shape change): each series vs the view benchmark on the
    // pooled 1e-6-quantized grid. Midranks are exact half-integers
    // (sums of integer rank bounds), U and the normal z use the
    // no-tie-correction formula (documented) — every input to the
    // double algebra is an exact integer or half-integer.
    "stats_mann_whitney" -> ((s, dir) => {
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
      val aSide = r.where(col("event_type") =!= "view")
        .select(col("event_type").as("pair_id"), col("q"))
      val bSide = r.where(col("event_type") === "view")
        .select(col("q"))
      // pooled per pair: a rows tagged 1, benchmark rows tagged 0
      val pooled = aSide.withColumn("isA", lit(1L))
        .unionByName(aSide.select(col("pair_id")).distinct()
          .crossJoin(bSide).withColumn("isA", lit(0L)))
      // midrank of value v = (count(< v) + 1 + count(<= v)) / 2 —
      // exact from two integer cumulative counts over the value grid.
      val cnt = pooled.groupBy(col("pair_id"), col("q"))
        .agg(count(lit(1)).as("c"), sum(col("isA")).as("cA"))
      val wq = Window.partitionBy(col("pair_id")).orderBy(col("q"))
      val ranked = cnt
        .withColumn("cum", sum(col("c")).over(wq))
        .withColumn("mid",
          ((col("cum") - col("c") + 1).cast("double") +
            col("cum").cast("double")) / 2.0)
      val agg = ranked.groupBy(col("pair_id"))
        .agg(sum(col("cA") * col("mid")).as("ra"),
          sum(col("cA")).as("na"), sum(col("c") - col("cA")).as("nb"))
      val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
      val u = col("ra") - naD * (naD + 1.0) / 2.0
      val z = (u - naD * nbD / 2.0) /
        sqrt(naD * nbD * (naD + nbD + 1.0) / 12.0)
      agg.select(col("pair_id"), col("na"), col("nb"),
          round(u, 6).as("u_stat"),
          (round(z, 6) + lit(0.0)).as("z_stat"))
    }),
    // Welch's unequal-variance t-test (op 289; Welch 1947): does each
    // series' mean return differ from the 'view' benchmark's — the
    // parametric companion to op 268's rank-based Mann-Whitney. One
    // groupBy for the per-series moments, then the 1-row benchmark
    // moments broadcast onto the 4 comparison rows; Satterthwaite df.
    // Rejection at the same ±1.96 two-sided literal the trend tests
    // pin.
    "stats_welch_ttest" -> ((s, dir) => {
      val g0 = withRet(s, dir).where(col("ret").isNotNull)
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("n"), sum(col("ret")).as("sr"),
          sum(col("ret") * col("ret")).as("qr"))
      // moments from the same (n, Σx, Σx²) algebra as the oracle —
      // not avg/var_samp, whose engine-internal accumulation differs.
      val g = g0.select(col("event_type"), col("n"),
        (col("sr") / col("n").cast("double")).as("m"),
        ((col("qr") - col("sr") * col("sr") / col("n").cast("double")) /
          (col("n").cast("double") - 1.0)).as("v"))
      val bench = g.where(col("event_type") === "view")
        .select(col("n").as("nb"), col("m").as("mb"), col("v").as("vb"))
      val a = g.where(col("event_type") =!= "view")
        .crossJoin(broadcast(bench))
      val va = col("v") / col("n").cast("double")
      val vb = col("vb") / col("nb").cast("double")
      val t = (col("m") - col("mb")) / sqrt(va + vb)
      val dfW = (va + vb) * (va + vb) /
        (va * va / (col("n").cast("double") - 1.0) +
          vb * vb / (col("nb").cast("double") - 1.0))
      a.select(col("event_type"), col("n"), col("nb"),
          round(t, 6).as("t_stat"),
          round(dfW, 2).as("df_welch"),
          when(abs(round(t, 6)) > 1.959963984540054, 1L).otherwise(0L)
            .as("reject_95"))
    }),
    // One-way ANOVA across all series (op 290; Fisher): is there ANY
    // mean-return difference among the 5 series — between/within sum
    // decomposition entirely from per-group (n, Σx, Σx²) partial
    // sums, so the whole test is one map-side-combined groupBy plus a
    // 5-row final fold: SSW = Σ(q_g − s_g²/n_g), SSB = Σs_g²/n_g −
    // (Σs)²/N. Reports F and the effect size η² = SSB/SST.
    "stats_anova" -> ((s, dir) => {
      val g = withRet(s, dir).where(col("ret").isNotNull)
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("n"), sum(col("ret")).as("s"),
          sum(col("ret") * col("ret")).as("q"))
      val a = g.agg(
        count(lit(1)).as("k"), sum(col("n")).as("n"),
        sum(col("s")).as("ts"), sum(col("q")).as("tq"),
        sum(col("s") * col("s") / col("n").cast("double")).as("sb"))
      val nD = col("n").cast("double"); val kD = col("k").cast("double")
      val ssb = col("sb") - col("ts") * col("ts") / nD
      val sst = col("tq") - col("ts") * col("ts") / nD
      val ssw = col("tq") - col("sb")
      val f = (ssb / (kD - 1.0)) / (ssw / (nD - kD))
      a.select(col("k"), col("n"),
          round(f, 6).as("f_stat"),
          round(ssb / sst, 8).as("eta_sq"))
    }),
    // Brown–Forsythe variance-equality test (op 302; Brown/Forsythe
    // 1974, the median-centered robust Levene): one-way ANOVA F on
    // z = |ret − med_g| — do the series differ in DISPERSION (op 290
    // asks about means; mean-centered Levene is outlier-fragile).
    // Per-group medians via the shared R-7 percentile (op 116's
    // engine-parity), then the op-290 partial-sum decomposition on z.
    // Rejection at F(4,∞)'s 95% value 2.3719 (documented literal —
    // exact F df₂ = n−k ≈ ∞ at this n).
    "stats_levene" -> ((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      val z = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("med",
          graft.functions.Stats.quantile(col("ret"), 0.5).over(wSym))
        .withColumn("z", abs(col("ret") - col("med")))
      val g = z.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"), sum(col("z")).as("s"),
        sum(col("z") * col("z")).as("q"))
      val a = g.agg(count(lit(1)).as("k"), sum(col("n")).as("n"),
        sum(col("s")).as("ts"), sum(col("q")).as("tq"),
        sum(col("s") * col("s") / col("n").cast("double")).as("sb"))
      val nD = col("n").cast("double"); val kD = col("k").cast("double")
      val ssb = col("sb") - col("ts") * col("ts") / nD
      val ssw = col("tq") - col("sb")
      val f = (ssb / (kD - 1.0)) / (ssw / (nD - kD))
      a.select(col("k"), col("n"), round(f, 6).as("f_stat"),
        when(round(f, 6) > 2.3719, 1L).otherwise(0L).as("reject_95"))
    }),
    // Bartlett's variance-homogeneity test (op 380; Bartlett 1937) —
    // the parametric sibling of op 310's Levene/Brown–Forsythe: k
    // group variances from EXACT integer moments on the 1e-6 grid
    // (n·Σq² − (Σq)² over n(n−1), DECIMAL-exact rationals → one
    // identical double per group), then χ² = ((N−k)·ln s_p² −
    // Σ(nᵢ−1)·ln sᵢ²)/C. The common 1e-12 grid scale cancels inside
    // the ln difference, so the statistic is scale-free. One keyed
    // agg + one k-row agg; ln on identically-derived doubles (the
    // op-155/op-83 log-parity precedent).
    "stats_bartlett" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val g = withRet(s, dir).where(col("ret").isNotNull)
        .select(col("event_type"),
          floor(col("ret") * 1e6 + 0.5).cast("long").as("qr"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("qr")).as("sq"),
          sum(dec(col("qr")) * dec(col("qr"))).as("sq2"))
        .select(col("n"),
          ((col("n").cast("double") * col("sq2").cast("double")
            - col("sq").cast("double") * col("sq").cast("double"))
            / (col("n").cast("double") * (col("n") - 1).cast("double")))
            .as("s2"))
      val a = g.agg(count(lit(1)).as("k"), sum(col("n")).as("n_total"),
        sum((col("n") - 1).cast("double") * col("s2")).as("pool_num"),
        sum((col("n") - 1).cast("double") * log(col("s2"))).as("sum_ln"),
        sum(lit(1.0) / (col("n") - 1).cast("double")).as("sum_inv"))
      val kD = col("k").cast("double"); val nmk =
        col("n_total").cast("double") - kD
      val sp2 = col("pool_num") / nmk
      val c = lit(1.0) + (col("sum_inv") - lit(1.0) / nmk) /
        (lit(3.0) * (kD - 1.0))
      val chi2 = (nmk * log(sp2) - col("sum_ln")) / c
      // 9.487729 = χ²₀.₉₅(4) — this corpus's five series ⇒ df=4.
      a.select(col("k"), col("n_total"), (col("k") - 1).as("df"),
        round(chi2, 6).as("chi2"),
        when(round(chi2, 6) > 9.487729, 1L).otherwise(0L).as("reject_95"))
    }),
    // Grubbs' max-studentized-deviate outlier test (op 378; Grubbs
    // 1950) per series: G = max|x−x̄|/s from EXACT integer algebra —
    // the per-row deviation |n·q − Σq| is an exact integer, its max
    // an exact integer, and G = maxDev/(n·σ) divides two
    // identically-derived doubles. The equivalent t-statistic τ =
    // √(n(n−2)G²/((n−1)²−nG²)) (the textbook monotone map to a
    // t_{n−2} tail; the CDF evaluation itself stays native-kernel +
    // spec territory, the op-19 convention). Two keyed aggs + one
    // broadcast join.
    "stats_grubbs" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val q = withRet(s, dir).where(col("ret").isNotNull)
        .select(col("event_type"),
          floor(col("ret") * 1e6 + 0.5).cast("long").as("qr"))
      val m = q.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("qr")).as("sq"),
          sum(dec(col("qr")) * dec(col("qr"))).as("sq2"))
        .select(col("event_type"), col("n"), col("sq"),
          sqrt(greatest(
            (col("n").cast("double") * col("sq2").cast("double")
              - col("sq").cast("double") * col("sq").cast("double"))
              / (col("n").cast("double") * (col("n") - 1).cast("double")),
            lit(0.0))).as("sigq"))
      val dev = abs(col("n") * col("qr") - col("sq"))
      val g = q.join(broadcast(m), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("sigq")).as("_sig"),
          max(dev).as("_maxdev"))
        .select(col("event_type"), col("n"),
          (col("_maxdev").cast("double")
            / (col("n").cast("double") * col("_sig"))).as("g0"),
          (col("n") - 2).cast("long").as("df"))
      val n2 = col("n").cast("double")
      val gg = col("g0") * col("g0")
      val denom = (n2 - 1.0) * (n2 - 1.0) - n2 * gg
      val tau = when(denom > 0.0,
        sqrt(n2 * (n2 - 2.0) * gg / denom))
      g.select(col("event_type"), col("n"), col("df"),
          round(col("g0"), 6).as("g_stat"),
          round(tau, 6).as("tau"))
    }),
    // Theil–Sen robust trend (op 379; Theil 1950 / Sen 1968) — the
    // slope ESTIMATOR companion of op 260's Mann-Kendall direction
    // test: median of all pairwise slopes of the per-day mean value
    // by series. The pairwise expansion runs on the (series × day)
    // GRID (driver-sized — this corpus's 30 days ⇒ ≤435 pairs per
    // series), never on raw events: one keyed agg to daily means,
    // one grid self-join, one exact-percentile agg. Daily means are
    // exact-rational doubles (Σq/ n), slopes identical IEEE algebra,
    // and percentile interpolates VALUES (order-free) so the median
    // is engine-exact.
    "stats_theil_sen" -> ((s, dir) => {
      val daily = events(s, dir)
        .select(col("event_type"),
          // floor of a double quotient, NOT an integral cast: double
          // division + floor is the identical IEEE op pair on both
          // engines (a long cast truncates in Spark, floors in //).
          floor(unix_micros(col("ts")).cast("double") / 86400000000.0)
            .cast("long").as("d"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("qv"))
        .groupBy(col("event_type"), col("d"))
        .agg((sum(col("qv")).cast("double") / count(lit(1)) / 1e6).as("m"))
        // r14: pin the (type, day)-sized daily means — both self-join
        // legs consume them, so the events scan + agg runs once.
        .localCheckpoint()
      val a = daily.select(col("event_type"), col("d").as("di"),
        col("m").as("mi"))
      val b = daily.select(col("event_type"), col("d").as("dj"),
        col("m").as("mj"))
      a.join(b, Seq("event_type")).where(col("di") < col("dj"))
        .select(col("event_type"),
          ((col("mj") - col("mi"))
            / (col("dj") - col("di")).cast("double")).as("slope"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          round(graft.functions.Stats.quantile(col("slope"), 0.5), 6)
            .as("ts_slope"))
    }),
    // Windowed Theil–Sen (op 403) — the SCALE §17 guidance for op 379
    // promoted to an operator: a trailing-14-day slope per (series,
    // end day), so the pairwise grid is ≤W(W−1)/2 = 91 slopes per
    // window BY CONSTRUCTION instead of d(d−1)/2 over all history
    // (quadratic in days — 157.6 s at the 50× wide probe). Each
    // daily-mean row explodes to the ≤W windows it belongs to
    // (days×W rows, linear), pairs form on the (series, window)
    // EQUI-join — a plain hash shuffle, no band/theta join — and the
    // exact per-window percentile reduces ≤91 values. Emitted only
    // for windows whose end day exists in the data (left-semi on the
    // daily relation). Same exact-rational daily means and
    // value-interpolating median as op 379 → engine-exact.
    "stats_theil_sen_windowed" -> ((s, dir) => {
      val W = 14
      val daily = events(s, dir)
        .select(col("event_type"),
          floor(unix_micros(col("ts")).cast("double") / 86400000000.0)
            .cast("long").as("d"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("qv"))
        .groupBy(col("event_type"), col("d"))
        .agg((sum(col("qv")).cast("double") / count(lit(1)) / 1e6).as("m"))
        // r14: same pin as op 379 — two join legs + the end-day semi
        // filter all consume the daily means.
        .localCheckpoint()
      val member = daily.withColumn("w",
        explode(sequence(col("d"), col("d") + (W - 1))))
      val a = member.select(col("event_type"), col("w"),
        col("d").as("di"), col("m").as("mi"))
      val b = member.select(col("event_type"), col("w"),
        col("d").as("dj"), col("m").as("mj"))
      a.join(b, Seq("event_type", "w")).where(col("di") < col("dj"))
        .select(col("event_type"), col("w"),
          ((col("mj") - col("mi"))
            / (col("dj") - col("di")).cast("double")).as("slope"))
        .groupBy(col("event_type"), col("w"))
        .agg(count(lit(1)).as("n_pairs"),
          round(graft.functions.Stats.quantile(col("slope"), 0.5), 6)
            .as("ts_slope"))
        .join(daily.select(col("event_type"), col("d").as("w")),
          Seq("event_type", "w"), "left_semi")
        .select(col("event_type"), col("w").as("end_day"),
          col("n_pairs"), col("ts_slope"))
    }),
    // CUSUM changepoint locator (op 394; Page 1954 / the Brownian-
    // bridge sup test): per series the row that maximizes
    // |P_t − (t/n)·S_n| over the (ts, event_id) order — computed as
    // the exact integer |n·P_t − t·S_n| so the argmax (first row on
    // ties) is engine-exact — plus the normalized sup statistic
    // D/(σ̂√n) against the 1.358 bridge 95% line. One prefix window,
    // one keyed moment agg, one rank window — all on the hash(type)
    // exchange.
    "stats_changepoint" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val q = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("qr", floor(col("ret") * 1e6 + 0.5).cast("long"))
        .withColumn("rn", row_number().over(wT))
        .withColumn("p", sum(col("qr")).over(
          wT.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = q.groupBy(col("event_type"))
        .agg(max(col("rn")).as("n"), sum(col("qr")).as("sn"),
          sum(dec(col("qr")) * dec(col("qr"))).as("s2"))
      val j = q.join(broadcast(tot), "event_type")
        .withColumn("d", abs(dec(col("p")) * col("n")
          - dec(col("sn")) * col("rn")))
      val wRank = Window.partitionBy(col("event_type"))
        .orderBy(col("d").desc, col("rn"))
      val top = j.withColumn("rk", row_number().over(wRank))
        .where(col("rk") === 1)
      val nD = col("n").cast("double")
      val sig = sqrt(greatest(
        (nD * col("s2").cast("double")
          - col("sn").cast("double") * col("sn").cast("double"))
          / (nD * (col("n") - 1).cast("double")), lit(0.0)))
      val stat = col("d").cast("double") / nD / sig / sqrt(nD)
      top.select(col("event_type"), col("n"), col("rn").as("cp_rn"),
          round(stat, 6).as("cusum_stat"),
          when(round(stat, 6) > 1.358, 1L).otherwise(0L).as("breach_95"))
    }),
    // Two-sample Anderson–Darling (op 395; Pettitt 1976 / Scholz &
    // Stephens 1987's tie-adjusted A²akN at k=2): each series vs the
    // view benchmark — the TAIL-sensitive companion of op 225's KS
    // (KS reacts to the biggest CDF gap, AD weights the tails by
    // 1/(F(1−F))). Evaluated on the pooled distinct-value grid in
    // DOUBLED half-integer units so every numerator/denominator is
    // an exact integer (the midrank convention); same dense-grid
    // cumulative machinery as op 225.
    "stats_ad_2sample" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
      val cnt = r.groupBy(col("event_type"), col("q"))
        .agg(count(lit(1)).as("c"))
      val grid = cnt.select(col("q")).distinct()
      val types = cnt.select(col("event_type")).distinct()
      val dense = grid.crossJoin(broadcast(types))
        .join(cnt, Seq("event_type", "q"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val wq = Window.partitionBy(col("event_type")).orderBy(col("q"))
      val cum = dense.withColumn("cc", sum(col("c")).over(wq))
      val tot = r.groupBy(col("event_type")).agg(count(lit(1)).as("nt"))
      val cumT = cum.join(broadcast(tot), "event_type")
      val aSide = cumT.where(col("event_type") =!= "view")
        .select(col("event_type"), col("q"), col("c").as("ha"),
          col("cc").as("ca"), col("nt").as("na"))
      val bSide = cumT.where(col("event_type") === "view")
        .select(col("q"), col("c").as("hb"), col("cc").as("cb"),
          col("nt").as("nb"))
      val m = aSide.join(bSide, "q")
        .where(col("ha") + col("hb") > 0)
        .withColumn("nn", col("na") + col("nb"))
        .withColumn("h", col("ha") + col("hb"))
        // doubled units keep the midrank half-integers integral
        .withColumn("b2", lit(2) * (col("ca") + col("cb")) - col("h"))
        .withColumn("ma2", lit(2) * col("ca") - col("ha"))
        .withColumn("mb2", lit(2) * col("cb") - col("hb"))
        .withColumn("den", dec(col("b2")) * (lit(2) * col("nn") - col("b2"))
          - dec(col("nn")) * col("h"))
      def num(m2: String, n1: String) =
        dec(col("nn")) * col(m2) - dec(col(n1)) * col("b2")
      val termA = when(col("den") > 0,
        col("h").cast("double") * (num("ma2", "na") * num("ma2", "na"))
          .cast("double")
          / (col("nn").cast("double") * col("den").cast("double")))
        .otherwise(0.0)
      val termB = when(col("den") > 0,
        col("h").cast("double") * (num("mb2", "nb") * num("mb2", "nb"))
          .cast("double")
          / (col("nn").cast("double") * col("den").cast("double")))
        .otherwise(0.0)
      m.groupBy(col("event_type"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          sum(termA).as("sa"), sum(termB).as("sb"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          round((col("n_a") + col("n_b") - 1).cast("double")
            / (col("n_a") + col("n_b")).cast("double")
            * (col("sa") / col("n_a").cast("double")
              + col("sb") / col("n_b").cast("double")), 6).as("ad_stat"))
    }),
    // Mood's median test (op 387; Mood 1950) — the coarsest, most
    // outlier-proof k-sample location test (sits under op 297's
    // Kruskal in power, above it in robustness): counts above vs ≤
    // the GRAND median per series, 2×k chi-square on exact integer
    // counts against row/column-proportional expecteds. The grand
    // median interpolates the pooled quantized grid (value-based —
    // order-free); one global 1-row agg broadcast + one keyed agg +
    // one k-row agg.
    "stats_mood_median" -> ((s, dir) => {
      val q = withRet(s, dir).where(col("ret").isNotNull)
        .select(col("event_type"),
          floor(col("ret") * 1e6 + 0.5).cast("long").as("qr"))
      val med = q.agg(
        graft.functions.Stats.quantile(col("qr"), 0.5).as("gm"))
      val per = q.crossJoin(broadcast(med))
        .groupBy(col("event_type"))
        .agg(sum(when(col("qr").cast("double") > col("gm"), 1L)
            .otherwise(0L)).as("a"),
          sum(when(col("qr").cast("double") <= col("gm"), 1L)
            .otherwise(0L)).as("b"),
          max(col("gm")).as("gm"))
      val t = per.agg(count(lit(1)).as("k"),
        sum(col("a") + col("b")).as("n"),
        sum(col("a")).as("ta"), sum(col("b")).as("tb"),
        max(col("gm")).as("gm"),
        sum(
          (col("a").cast("double") * col("a").cast("double"))
            / (col("a") + col("b")).cast("double")).as("saa"),
        sum(
          (col("b").cast("double") * col("b").cast("double"))
            / (col("a") + col("b")).cast("double")).as("sbb"))
      // χ² for an I×J table via the Σ O²/E − N identity: N·(Σa²/nᵢ)/A
      // + N·(Σb²/nᵢ)/B − N — one pass, no per-cell expected join.
      val nD = col("n").cast("double")
      val chi2 = nD * col("saa") / col("ta").cast("double") +
        nD * col("sbb") / col("tb").cast("double") - nD
      // 9.487729 = χ²₀.₉₅(4) — five series ⇒ df=4 on this corpus.
      t.select(col("k"), col("n"), (col("k") - 1).as("df"),
        round(col("gm") / 1e6, 6).as("grand_median"),
        round(chi2, 6).as("chi2"),
        when(round(chi2, 6) > 9.487729, 1L).otherwise(0L).as("reject_95"))
    }),
    // Kruskal–Wallis rank ANOVA (op 297; Kruskal/Wallis 1952): the
    // rank-based sibling of op 290 — does ANY series' return
    // distribution sit higher — on the op-268 integer value grid, so
    // midranks are exact. The global ranking is a TWO-LEVEL
    // distributed prefix sum, THREE levels so no stage is ever a
    // single-partition sort or a quadratic self-join: per-bucket
    // cumulative windows (partitioned by bucket), bucket offsets from
    // a cumulative window partitioned by super-bucket (4096 buckets
    // each), and super-bucket offsets from a broadcast theta-join of
    // the few-row super-bucket totals (a sparse q range spreads 100k
    // distinct values over ~30k buckets — a bucket-level theta-join
    // is 1e9 pairs, measured 10 s; the super-bucket one is ~10²).
    // Bucket count is bounded by the value RANGE, not rows. Everything
    // derives from one (event_type, q) count relation — qc is gq
    // re-aggregated, not a second scan — and that relation (bounded
    // by #series × grid width, not rows) is localCheckpointed once so
    // the return-window subtree runs exactly once instead of ~7×.
    // Tie-corrected H = H / (1 − Σ(t³−t)/(N³−N)).
    "stats_kruskal" -> ((s, dir) => {
      val (rg, ties) = kruskalRankSums(s, dir)
      val a = rg.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("rgsum") * col("rgsum") / col("ng").cast("double"))
            .as("s"))
        .crossJoin(broadcast(ties))
      val nD = col("n").cast("double")
      val h = lit(12.0) / (nD * (nD + 1.0)) * col("s") - lit(3.0) * (nD + 1.0)
      val cTie = lit(1.0) - col("t").cast("double") / (nD * nD * nD - nD)
      a.select(col("k"), col("n"),
        round(h, 6).as("h_stat"),
        round(cTie, 8).as("tie_correction"),
        round(h / cTie, 6).as("h_adj"))
    }),
    // Dunn post-hoc pairwise comparisons (op 353; Dunn 1964) — the
    // "WHICH pairs differ" follow-up the op-297 omnibus can't answer:
    // z_ij = (R̄_i − R̄_j)/√(S²(1/n_i + 1/n_j)), S² = N(N+1)/12 −
    // T/(12(N−1)) with the shared tie term. Reuses the op-297 exact
    // midrank machinery verbatim (kruskalRankSums — half-integer rank
    // sums are addition-order-free doubles); the k² pair join runs on
    // the k-row per-series relation. Bonferroni-at-m-pairs critical
    // 2.807 = Φ⁻¹(1 − 0.025/10) documented literal (k = 5 → 10 pairs
    // on this corpus; p-values need Φ — out of replayable-SQL scope,
    // the op-241 convention).
    "stats_dunn" -> ((s, dir) => {
      val (rg, ties) = kruskalRankSums(s, dir)
      val tot = rg.agg(sum(col("ng")).as("nn")).crossJoin(broadcast(ties))
      val a = rg.select(col("event_type").as("g1"),
        col("rgsum").as("r1"), col("ng").as("n1"))
      val b = rg.select(col("event_type").as("g2"),
        col("rgsum").as("r2"), col("ng").as("n2"))
      val nD = col("nn").cast("double")
      val s2 = nD * (nD + 1.0) / 12.0 -
        col("t").cast("double") / (lit(12.0) * (nD - 1.0))
      val z = (col("r1") / col("n1") - col("r2") / col("n2")) /
        sqrt(s2 * (lit(1.0) / col("n1") + lit(1.0) / col("n2")))
      a.join(b, col("g1") < col("g2"))
        .crossJoin(broadcast(tot))
        .select(col("g1"), col("g2"),
          round(z, 6).as("z_stat"),
          when(abs(round(z, 6)) > 2.807, 1L).otherwise(0L)
            .as("reject_bonf_95"))
    }),
    // Friedman repeated-measures rank test (op 340; Friedman 1937,
    // tie-corrected per Conover 1999): the BLOCKED member of the group
    // family — op 297 asks "do the series differ" pooling all rows;
    // Friedman blocks by the rn time cross-section, killing the common
    // market factor, and ranks WITHIN each date. Midranks within a
    // block are exact half-integers → stored doubled (d = 2·rank +
    // ties − 1, ties via the RANGE-peers frame — same sort, same
    // exchange), so ΣD_j² and Σd² are exact integers (decimal(38,0)
    // against the n² growth) and Q = (k−1)(nΣD_j² − C)/(n(Σd² − C))·…
    // — algebraically (k−1)(ΣD_j² − n²k(k+1)²)/(n·Σd² − n²k(k+1)²) —
    // is identical double algebra on identical integers both engines.
    // Blocks where any series is missing are dropped (complete-block
    // design). One hash(rn) exchange for the ranks; everything after
    // is k-row. Rejection vs χ²(4) 95% = 9.4877 (documented literal,
    // k = 5 on this corpus).
    "stats_friedman" -> ((s, dir) => {
      val ranked = friedmanRanked(s, dir)
      val perSeries = ranked.groupBy(col("event_type"))
        .agg(sum(col("d")).as("dj"))
      val tot = ranked.agg(
        sum(col("d").cast("decimal(38,0)") * col("d")).as("sd2"),
        (count(lit(1)) / first(col("k"))).cast("long").as("n"),
        first(col("k")).as("k"))
      val sdj2 = perSeries.agg(
        sum(col("dj").cast("decimal(38,0)") * col("dj")).as("sdj2"))
      val a = tot.crossJoin(broadcast(sdj2))
      val nDec = col("n").cast("decimal(38,0)")
      // doubled-rank units (d = 2r): Q = (k−1)(ΣD_j² − n²k(k+1)²)
      //                                  / (Σd² − n·k(k+1)²)
      // — reduces to the classic 12/(nk(k+1))ΣR² − 3n(k+1) when no
      // ties (spec pins the k=3, n=2 perfect-concordance case, Q=4)
      val cden = nDec * col("k") * (col("k") + 1) * (col("k") + 1)
      val num = (col("sdj2") - cden * col("n")).cast("double")
      val den = (col("sd2") - cden).cast("double")
      val q = (col("k") - 1).cast("double") * num / den
      a.select(col("k"), col("n"),
        round(q, 6).as("q_stat"),
        when(round(q, 6) > 9.4877, 1L).otherwise(0L).as("reject_95"))
    }),
    // Page trend test (op 359; Page 1963) — op 340's ORDERED
    // alternative: is there a monotone trend across the treatments in
    // their documented (alphabetical) order, which the omnibus can't
    // distinguish from any other departure. L = Σ_j c_j·R̄-sums on the
    // shared doubled midranks (L2 = Σ c_j·D_j exact integer, L =
    // L2/2); tie-naive normal approximation (classical Page): μ_L =
    // n·k(k+1)²/4, σ²_L = n·k²(k+1)²(k−1)/144, two-sided 1.96.
    "stats_page_trend" -> ((s, dir) => {
      val ranked = friedmanRanked(s, dir)
      val ps = ranked.groupBy(col("event_type"))
        .agg(sum(col("d")).as("dj"), first(col("k")).as("k"),
          (count(lit(1))).as("nblk"))
      // alphabetical treatment position WINDOWLESS via the broadcast
      // theta-self-join on the k-row relation (the op-329 idiom — no
      // unpartitioned window anywhere in the suite)
      val cjRel = ps.select(col("event_type"))
        .join(broadcast(ps.select(col("event_type").as("et2"))),
          col("et2") < col("event_type"), "left")
        .groupBy(col("event_type"))
        .agg((count(col("et2")) + 1).as("cj"))
      val perSeries = ps.join(broadcast(cjRel), "event_type")
      val a = perSeries.agg(
        sum(col("cj") * col("dj")).as("l2"),
        first(col("k")).as("k"), first(col("nblk")).as("n"))
      val kD = col("k").cast("double"); val nD = col("n").cast("double")
      val lStat = col("l2").cast("double") / 2.0
      val muL = nD * kD * (kD + 1.0) * (kD + 1.0) / 4.0
      val sigL = sqrt(nD * kD * kD * (kD + 1.0) * (kD + 1.0) * (kD - 1.0)
        / 144.0)
      val z = (lStat - muL) / sigL
      a.select(col("k"), col("n"),
        round(lStat, 1).as("l_stat"),
        round(z, 6).as("z_stat"),
        when(abs(round(z, 6)) > 1.96, 1L).otherwise(0L).as("reject_95"))
    }),
    // Jonckheere–Terpstra trend test (op 363; Jonckheere 1954) —
    // completing the 2×2 rank-test matrix: pooled×omnibus = Kruskal
    // (297), pooled×ordered = THIS, blocked×omnibus = Friedman (340),
    // blocked×ordered = Page (359). J = Σ_{i<j} U_ij over the
    // documented (alphabetical) group order; each U from per-group
    // cumulative counts on the 1e-6 value grid — the probe-grid trick:
    // every group gets a row at EVERY distinct value (k·|q| rows, a
    // broadcast of the k-row group list), one per-group prefix window,
    // then the pair join on q. 2U = Σ cg_j·(2·cumlt_i + cg_i) keeps
    // everything exact integers; tie-naive classical normal
    // approximation (the op-359 convention).
    "stats_jonckheere" -> ((s, dir) => {
      val gq = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
        .groupBy(col("event_type"), col("q"))
        .agg(count(lit(1)).as("cg"))
        .localCheckpoint()
      val groups = gq.select(col("event_type")).distinct()
      val grid = gq.select(col("q")).distinct()
        .crossJoin(broadcast(groups))
      val full = grid.join(gq, Seq("event_type", "q"), "left")
        .withColumn("cg", coalesce(col("cg"), lit(0L)))
      val wG = Window.partitionBy(col("event_type")).orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = full
        .withColumn("cumle", sum(col("cg")).over(wG))
        .withColumn("cumlt", col("cumle") - col("cg"))
      val a = cum.select(col("event_type").as("gi"), col("q"),
        col("cumlt").as("ci"), col("cg").as("cgi"))
      val b = gq.select(col("event_type").as("gj"), col("q"),
        col("cg").as("cgj"))
      val j2 = a.join(b, Seq("q")).where(col("gi") < col("gj"))
        .agg(sum(col("cgj").cast("decimal(38,0)")
          * (lit(2) * col("ci") + col("cgi"))).as("j2"))
      // DECIMAL moments: n²(2n+3) overflows int64 once a group holds
      // ~1M returns (the 50× probe caught exactly this) — the sums
      // are value-identical in DECIMAL(38) and convert to the same
      // doubles below.
      val decN = (c: Column) => c.cast("decimal(38,0)")
      val ns = gq.groupBy(col("event_type")).agg(sum(col("cg")).as("n"))
        .agg(sum(col("n")).as("nn"),
          sum(decN(col("n")) * col("n")).as("sn2"),
          sum(decN(col("n")) * col("n") * (lit(2) * col("n") + 3)).as("snn"),
          count(lit(1)).as("k"))
      val z0 = j2.crossJoin(broadcast(ns))
      val nD = col("nn").cast("double")
      val jStat = col("j2").cast("double") / 2.0
      val muJ = (nD * nD - col("sn2").cast("double")) / 4.0
      val varJ = (nD * nD * (lit(2.0) * nD + 3.0)
        - col("snn").cast("double")) / 72.0
      val z = (jStat - muJ) / sqrt(varJ)
      z0.select(col("k"), col("nn").as("n"),
        round(jStat, 1).as("j_stat"),
        round(z, 6).as("z_stat"),
        when(abs(round(z, 6)) > 1.96, 1L).otherwise(0L).as("reject_95"))
    }),
    // Cochran's Q (op 347; Cochran 1950) — op 340's BINARY sibling:
    // success = positive quantized return per (series, date block);
    // the identity k(k−1)Σ(C_j − N/k)² = (k−1)(kΣC_j² − N²) keeps Q
    // all-integer until one final division — Q = (k−1)(kΣC_j² − N²) /
    // (kN − ΣR_b²), decimals against the n² growth; complete blocks
    // only (the op-340 gate), χ²(4) 95% literal.
    "stats_cochran_q" -> ((s, dir) => {
      val base = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("x",
          (floor(col("ret") * 1e6 + 0.5).cast("long") > 0).cast("long"))
        .withColumn("rn", row_number().over(wT))
        .select(col("event_type"), col("rn"), col("x"))
      val kRel = base.agg(countDistinct(col("event_type")).as("k"))
      val wBlk = Window.partitionBy(col("rn"))
      val marked = base
        .withColumn("bc", count(lit(1)).over(wBlk))
        .crossJoin(broadcast(kRel))
        .where(col("bc") === col("k"))
      val rows = marked.groupBy(col("rn"))
        .agg(sum(col("x")).as("rb"), first(col("k")).as("k"))
      val cols_ = marked.groupBy(col("event_type"))
        .agg(sum(col("x")).as("cj"))
      val rAgg = rows.agg(count(lit(1)).as("n"),
        sum(col("rb").cast("decimal(38,0)")).as("nn"),
        sum(col("rb").cast("decimal(38,0)") * col("rb")).as("srb2"),
        first(col("k")).as("k"))
      val cAgg = cols_.agg(
        sum(col("cj").cast("decimal(38,0)") * col("cj")).as("scj2"))
      val a = rAgg.crossJoin(broadcast(cAgg))
      val kD = col("k").cast("decimal(38,0)")
      val num = ((col("k") - 1) * (kD * col("scj2") - col("nn") * col("nn")))
        .cast("double")
      val den = (kD * col("nn") - col("srb2")).cast("double")
      val q = when(den =!= 0.0, num / den)
      a.select(col("k"), col("n"),
        round(q, 6).as("q_stat"),
        when(round(q, 6) > 9.4877, 1L).otherwise(0L).as("reject_95"))
    }),
    // Chi-square independence test (op 241): source × lang
    // contingency on documents — "is language mix independent of
    // source" (the mixture-drift alarm). Expected counts are exact
    // integer ratios, each (o−e)²/e cell term quantizes to 1e-9
    // longs so the cell sum is an exact integer; χ² and dof
    // reported (the p-value needs the incomplete gamma — out of
    // replayable-SQL scope, documented).
    "stats_chi2_independence" -> ((s, dir) => {
      val o = tbl(s, dir, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
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
    }),
    // Benjamini-Hochberg FDR (op 329; Benjamini/Hochberg 1995): the
    // multiple-testing control the whole inference family (ops
    // 225/240/241/271/289/290/297/302/328) needs once it runs per
    // series — at corpus scale you test thousands of series and
    // α-per-test drowns you in false discoveries. Family here: the
    // op-271 Jarque-Bera tests, whose χ²(2) null gives the CLOSED
    // p-value exp(−jb/2) (no CDF machinery). BH runs WINDOWLESS on
    // the m-row family relation (m = #series, never #rows): rank =
    // broadcast theta-self-join count (ties broken by series key),
    // adjusted p = suffix-min of m·p/rank via a second m²-broadcast
    // join — both trivially small at any data scale, and no
    // unpartitioned Window anywhere (the WindowGuard rule).
    "stats_bh_fdr" -> ((s, dir) => {
      val jb = SparkEntry.queries("eod_jarque_bera")(s, dir)
        .select(col("event_type"), col("jb"))
        .withColumn("p", round(exp(-col("jb") / 2.0), 9))
        .localCheckpoint()
      val other = jb.select(col("event_type").as("tb"), col("p").as("pb"))
      val ranked = jb.join(broadcast(other),
          col("pb") < col("p") ||
            (col("pb") === col("p") && col("tb") <= col("event_type")))
        .groupBy(col("event_type"), col("p")).agg(count(lit(1)).as("rnk"))
      val mrel = jb.agg(count(lit(1)).as("m"))
      ranked.crossJoin(broadcast(mrel))
        .join(broadcast(ranked.select(col("p").as("pj"),
          col("rnk").as("rj"))), col("rj") >= col("rnk"))
        .groupBy(col("event_type"), col("p"), col("rnk"))
        .agg(min(least(lit(1.0),
          round(col("m") * col("pj") / col("rj"), 9))).as("p_adj"))
        .select(col("event_type"), col("p").as("p_value"), col("rnk"),
          col("p_adj"), (col("p_adj") <= 0.10).as("reject"))
    }),
    // Permutation test (op 328; Fisher 1935 exact-randomization
    // logic): difference of mean click-vs-view returns under the
    // label-exchangeability null — the assumption-free member the
    // parametric (Welch) and rank (Mann-Whitney) tests bracket. The
    // B = 100 relabelings use the md5 coin (op-77 convention:
    // partition-layout-independent, oracle-replayable), and the
    // "replicate at least as extreme" compare is INTEGER-EXACT via
    // cross-multiplication — |sa·nb − sb·na|·(na0·nb0) ≥
    // |sa0·nb0 − sb0·na0|·(na·nb) in decimal(38,0)/HUGEINT — so no
    // float knife-edge can split engines. Shape: one ×B explode +
    // ONE map-side-combinable agg on b (B partial rows); at 100 TB
    // run it on a sampled slice or shrink B — cost is B·n scan work,
    // no extra shuffle.
    "stats_permutation" -> ((s, dir) => {
      val nB = 100
      val r = withRet(s, dir)
        .where(col("ret").isNotNull &&
          col("event_type").isin("click", "view"))
        .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
        .select(col("event_type"), col("event_id"), col("q"))
        .localCheckpoint()
      val obs = r.agg(
        sum(when(col("event_type") === "click", col("q"))).as("sa0"),
        count(when(col("event_type") === "click", lit(1))).as("na0"),
        sum(when(col("event_type") === "view", col("q"))).as("sb0"),
        count(when(col("event_type") === "view", lit(1))).as("nb0"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val reps = r.select(col("event_id"), col("q"),
          explode(sequence(lit(1), lit(nB))).as("b"))
        .withColumn("side", Corpus.md5Uniform(concat_ws("_",
          lit("perm"), col("b"), col("event_id"))) < 0.5)
        .groupBy(col("b")).agg(
          sum(when(col("side"), col("q"))).as("sa"),
          count(when(col("side"), lit(1))).as("na"),
          sum(when(!col("side"), col("q"))).as("sb"),
          count(when(!col("side"), lit(1))).as("nb"))
      val ext = reps.crossJoin(broadcast(obs))
        .where(col("na") > 0 && col("nb") > 0)
        .withColumn("lhs",
          abs(dec(col("sa")) * col("nb") - dec(col("sb")) * col("na")) *
            (dec(col("na0")) * dec(col("nb0"))))
        .withColumn("rhs",
          abs(dec(col("sa0")) * col("nb0") - dec(col("sb0")) * col("na0")) *
            (dec(col("na")) * dec(col("nb"))))
        .agg(count(lit(1)).as("n_reps"),
          sum(when(col("lhs") >= col("rhs"), 1L).otherwise(0L))
            .as("n_extreme"))
      ext.crossJoin(broadcast(obs))
        .select(col("na0").as("n_a"), col("nb0").as("n_b"),
          (round((col("sa0").cast("double") / col("na0")
            - col("sb0").cast("double") / col("nb0")) / 1e6, 9)
            + lit(0.0)).as("obs_diff"),
          col("n_reps"), col("n_extreme"),
          (round((col("n_extreme") + 1).cast("double")
            / (col("n_reps") + 1), 6) + lit(0.0)).as("p_value"))
    }),
    // Cramér's V effect size (op 324): the chi² family's missing
    // MAGNITUDE — independence tests reject everything at corpus n,
    // so mixture-drift alarms need V = sqrt(χ²/(n·min(r−1,c−1))) to
    // say whether the source×lang association MATTERS. Same 1e-9-
    // quantized cell statistic as op 241 (χ² is an exact long on both
    // engines), then one sqrt on identical integers; thresholds at
    // the conventional 0.1/0.3/0.5 grades.
    "stats_cramers_v" -> ((s, dir) => {
      val o = tbl(s, dir, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
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
      val v = sqrt(col("chi2r") / (col("n").cast("double") *
        (least(col("r"), col("c")) - lit(1)).cast("double")))
      cells.agg(sum(col("t")).as("chi2q"), max(col("n")).as("n"),
          countDistinct(col("source")).as("r"),
          countDistinct(col("lang")).as("c"))
        .withColumn("chi2r", col("chi2q").cast("double") / 1e9)
        .select(col("n"), ((col("r") - 1) * (col("c") - 1)).as("dof"),
          round(col("chi2r"), 6).as("chi2"),
          round(v, 6).as("cramers_v"),
          when(v < 0.1, "negligible").when(v < 0.3, "weak")
            .when(v < 0.5, "moderate").otherwise("strong")
            .as("association"))
    }),
    // Kyle's lambda price impact (op 117).
    "tick_kyle_lambda" -> ((s, dir) =>
      events(s, dir)
        .withColumn("dp", col("value") - lag(col("value"), 1).over(wT))
        .withColumn("sv", Tick.signVolumeByTickRule(volume, col("value"), wT))
        .where(col("dp").isNotNull)
        .groupBy(col("event_type"))
        .agg(round(Tick.kyleLambda(col("dp"), col("sv")), 6).as("kyle_lambda"))),
    // TWAP (op 176): time-weighted average price — each tick's price
    // weighted by its holding time to the next tick (the last tick
    // has no interval and drops, the TWAP convention). Exactness:
    // weights are integer microseconds and the weighted sums
    // accumulate as DECIMAL(30,8) (exact, order-free — the rel_*
    // convention), divided once at the end in double.
    "tick_twap" -> ((s, dir) =>
      events(s, dir)
        .withColumn("dt_us",
          unix_micros(lead(col("ts"), 1).over(wT)) - unix_micros(col("ts")))
        .where(col("dt_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(round(
          sum((col("value") * col("dt_us")).cast("decimal(30,8)"))
            .cast("double") /
          sum(col("dt_us").cast("decimal(30,8)")).cast("double"), 6)
          .as("twap"),
          sum(col("dt_us")).as("span_us"))),
    // Roll implied spread (op 159): Δp and its lag from ONE ordered
    // window pass (lag(value,1/2)), covariance aggregated per symbol.
    "tick_roll_spread" -> ((s, dir) =>
      events(s, dir)
        .withColumn("dp", col("value") - lag(col("value"), 1).over(wT))
        .withColumn("dpl",
          lag(col("value"), 1).over(wT) - lag(col("value"), 2).over(wT))
        .where(col("dp").isNotNull && col("dpl").isNotNull)
        .groupBy(col("event_type"))
        .agg((round(Tick.rollSpread(col("dp"), col("dpl")), 6) + lit(0.0))
          .as("roll_spread"))),
    // Amihud illiquidity (op 160): mean |ret|/(p·v) ×1e6 per symbol —
    // the dollar-volume-normalized impact proxy on the same synthetic
    // volume convention as the rest of the tick family.
    "tick_amihud" -> ((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .groupBy(col("event_type"))
        .agg(round(Tick.amihudIlliquidity(col("ret"), col("value") * volume),
          6).as("amihud"))),
    // VPIN (op 183; Easley/López de Prado/O'Hara 2012): order-flow
    // toxicity over EQUAL-VOLUME buckets — tick-rule buy/sell volumes
    // per volume bar (the op-59 exclusive-prefix bar id, threshold
    // 5000), VPIN = Σ|V_buy − V_sell| / ΣV. Volumes are integral, so
    // every sum is exact under any aggregation order; zero-direction
    // first prints count toward V but neither side (the tick_rule
    // convention). One window pass + two keyed hash aggs.
    "tick_vpin" -> ((s, dir) => {
      val wPre = wT.rowsBetween(Window.unboundedPreceding, -1)
      val dirn = when(col("value") > lag(col("value"), 1).over(wT), 1)
        .when(col("value") < lag(col("value"), 1).over(wT), -1).otherwise(0)
      events(s, dir)
        .withColumn("vol", volume)
        .select(col("event_type"), col("vol"), dirn.as("dirn"),
          floor(coalesce(sum(col("vol")).over(wPre), lit(0.0)) / 5000L)
            .cast("long").as("bar"))
        .groupBy(col("event_type"), col("bar"))
        .agg(sum(when(col("dirn") === 1, col("vol")).otherwise(0.0)).as("vb"),
          sum(when(col("dirn") === -1, col("vol")).otherwise(0.0)).as("vs"),
          sum(col("vol")).as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_buckets"),
          round(sum(abs(col("vb") - col("vs"))) / sum(col("v")), 6)
            .as("vpin"))
    }),
    // Parkinson + Garman–Klass range volatility (op 184): the
    // OHLC-based estimators over the op-59 hourly bars — Parkinson
    // uses the high/low range (≈5× more efficient than close-close),
    // GK adds the open-close term. Per-bar terms cast to
    // DECIMAL(30,10) before summing (order-free, the quote_stats
    // convention); a non-positive GK mean yields null, not NaN.
    "tick_parkinson_gk" -> ((s, dir) => {
      val bars = graft.operators.Bars.timeBars(
        events(s, dir).withColumn("volume", volume),
        "event_type", "ts", "value", "volume", "1 hour",
        tiebreak = Some("event_id"))
      val lhl2 = pow(log(col("high") / col("low")), 2)
      val lco2 = pow(log(col("close") / col("open")), 2)
      bars
        // a zero-price bar (sf0.1 has zero prints) has low = 0: the
        // range ratio is undefined (and ANSI division throws) — drop
        // it on both engines; low > 0 bounds every OHLC field > 0
        .where(col("low") > 0)
        .withColumn("p_term", (lhl2 / FourLn2).cast("decimal(30,10)"))
        .withColumn("g_term",
          (lhl2 * 0.5 - lco2 * GkWeight).cast("decimal(30,10)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_bars"),
          round(sqrt(sum(col("p_term")).cast("double") / count(lit(1))), 6)
            .as("parkinson_vol"),
          (round(when(sum(col("g_term")) > 0,
            sqrt(sum(col("g_term")).cast("double") / count(lit(1)))), 6)
            + lit(0.0)).as("gk_vol"))
    }),
    // Yang–Zhang volatility (op 275; Yang/Zhang 2000): the
    // drift-independent OHLC estimator that handles overnight jumps —
    // σ²_YZ = V_overnight + k·V_openclose + (1−k)·V_RS with
    // k = 0.34/(1.34 + (n+1)/(n−1)), V_RS the Rogers–Satchell mean.
    // Daily bars via the op-59 kernel (one shuffle), the overnight
    // link one lag over the per-series day order, then one agg.
    // Zero-price days (low = 0, sf0.1 has zero prints) drop BEFORE
    // the lag on both engines so the overnight link re-chains
    // identically; var_samp needs n ≥ 2 overnight rows else null.
    "tick_yang_zhang" -> ((s, dir) => {
      val bars = graft.operators.Bars.timeBars(
        events(s, dir).withColumn("volume", volume),
        "event_type", "ts", "value", "volume", "1 day",
        tiebreak = Some("event_id"))
        .where(col("low") > 0)
      val wDay = Window.partitionBy(col("event_type"))
        .orderBy(col("bar_start"))
      val d = bars
        .withColumn("pc", lag(col("close"), 1).over(wDay))
        .withColumn("ov", log(col("open") / col("pc")))
        .withColumn("cc", log(col("close") / col("open")))
        .withColumn("rs",
          log(col("high") / col("open")) * log(col("high") / col("close")) +
            log(col("low") / col("open")) * log(col("low") / col("close")))
        .where(col("pc").isNotNull)
      val nD = col("n_days").cast("double")
      val k = lit(0.34) / (lit(1.34) + (nD + 1.0) / (nD - 1.0))
      d.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          var_samp(col("ov")).as("vo"),
          var_samp(col("cc")).as("vc"),
          avg(col("rs")).as("vrs"))
        .select(col("event_type"), col("n_days"),
          (round(sqrt(col("vo")), 6) + lit(0.0)).as("vol_overnight"),
          (round(sqrt(col("vc")), 6) + lit(0.0)).as("vol_openclose"),
          (round(when(col("vrs") >= 0, sqrt(col("vrs"))), 6) + lit(0.0))
            .as("vol_rs"),
          (round(when(col("n_days") >= 2 &&
            col("vo") + k * col("vc") + (lit(1.0) - k) * col("vrs") >= 0,
            sqrt(col("vo") + k * col("vc") + (lit(1.0) - k) * col("vrs"))), 6)
            + lit(0.0)).as("yang_zhang_vol"))
    }),

    // ---- rolling metrics (north-star "rolling calculations")
    // Eod.rollingMean/Volatility/Sharpe/DownsideDev/Sortino over the
    // trailing 20 rows, each an O(1) per-row frame difference of
    // running sums (the frame-bounded avg/stddev re-aggregate O(k) per
    // row). Null returns (the first row of each series) add 0 to every
    // sum and to the count, like the null-skipping frame aggregates;
    // vol is guarded ≥ 0 and the oracle replays the IDENTICAL algebra.
    // Every window shares wT's sort — one Exchange, one Sort.
    "eod_rolling" -> ((s, dir) => {
      val r = col("ret")
      def r4(c: Column) = round(c, 4) + lit(0.0)
      withRet(s, dir).select(col("event_type"), col("event_id"),
        r4(Eod.rollingMean(r, wT, 20)).as("roll_mean"),
        r4(Eod.rollingVolatility(r, wT, 20)).as("roll_vol"),
        r4(Eod.rollingSharpe(r, wT, 20)).as("roll_sharpe"),
        r4(Eod.rollingDownsideDev(r, wT, 20)).as("roll_downside"),
        r4(Eod.rollingSortino(r, wT, 20)).as("roll_sortino"))
    }),

    // ---- sessionization (session_window: same expression batch+stream)
    "sessionize" -> ((s, dir) =>
      graft.streaming.EventStream.sessionize(events(s, dir), "30 minutes")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          round(sum(col("n_events")).cast("double") / count(lit(1)), 6).as("avg_events"),
          // integer-µs quantize instead of round(x,6): Spark's round
          // uses the double's SHORTEST decimal (BigDecimal.valueOf),
          // DuckDB rounds the true binary value — they disagree by 1 ulp
          // on half-boundary averages. floor(avg_µs + 0.5)/1e6 is the
          // same IEEE ops on both engines.
          (floor(sum(unix_micros(col("last_ts")) - unix_micros(col("first_ts")))
              .cast("double") / count(lit(1)) + lit(0.5)).cast("long") / 1e6)
            .as("avg_duration_s"))),

    // ---- product/event analytics (ops 330-332): the funnel /
    // cohort-retention / SCD2 trio every clickstream lake runs.
    // Kernels in operators/Events.scala; everything integer-exact
    // (flags, counts, epoch-µs interval bounds), so the DuckDB replay
    // hash-matches with no float convention needed.
    "events_funnel" -> ((s, dir) =>
      graft.operators.Events
        .funnelFlags(events(s, dir), "signup", "click", "purchase")),

    // op 349: the conversion-WINDOW variant — a step counts only
    // within 3 days of the qualifying previous step (the "did they
    // convert promptly" funnel every growth team also runs).
    "events_funnel_windowed" -> ((s, dir) =>
      graft.operators.Events
        .funnelFlags(events(s, dir), "signup", "click", "purchase",
          maxGapUs = Some(259200000000L))),

    // op 350: md5-coin A/B split + pooled two-proportion z on exact
    // integers — the experimentation staple, engine-replayable
    // randomization (op-77 convention).
    "events_ab_test" -> ((s, dir) =>
      graft.operators.Events.abTest(events(s, dir), "purchase",
        minValue = 150.0)),

    // op 368: TOST equivalence on the same split — the "no harm"
    // launch gate (failing to reject ≠ equivalent); δ = 0.05 margin,
    // unpooled SE, equivalent ⟺ min(z_lo, z_hi) > 1.645.
    "events_ab_equivalence" -> ((s, dir) =>
      graft.operators.Events.abEquivalence(events(s, dir), "purchase",
        minValue = 150.0, delta = 0.05)),

    // op 373: the SRM gate on the SAME md5 split both A/B readouts
    // use — the assignment-integrity check that runs before either.
    "events_srm" -> ((s, dir) =>
      graft.operators.Events.srmCheck(events(s, dir), "purchase",
        minValue = 150.0)),

    // op 374: CUPED variance-reduced readout — pre-period per-user
    // value as the covariate, split at the global time midpoint.
    "events_cuped" -> ((s, dir) =>
      graft.operators.Events.cuped(events(s, dir))),

    // op 375: L28-style activity histogram with casual/core/power
    // tiers.
    "events_power_users" -> ((s, dir) =>
      graft.operators.Events.powerUsers(events(s, dir))),

    // op 398: heterogeneous treatment effect — the op-350 test per
    // props-k quartile of each user's first event.
    "events_lift_by_segment" -> ((s, dir) =>
      graft.operators.Events.abTestBySegment(events(s, dir), "purchase",
          minValue = 150.0)),

    // op 388: data-driven Markov removal-effect attribution — the
    // chain-model alternative to op 335's positional rules; direct
    // fixed-pivot-order Gaussian elimination on the absorption
    // system (scalar IEEE ops → cross-engine bit-parity), every
    // chain relation driver-sized.
    "events_markov_attribution" -> ((s, dir) =>
      graft.operators.Events.markovAttribution(events(s, dir), "purchase")),

    "events_retention" -> ((s, dir) =>
      graft.operators.Events.retention(events(s, dir), "signup")
        .select(col("cohort_us"), col("week_offset"), col("n_active"),
          col("n_cohort"),
          round(col("n_active").cast("double") / col("n_cohort"), 6)
            .as("retained_pct"))),

    "events_scd2" -> ((s, dir) =>
      graft.operators.Events.scd2(events(s, dir))
        .withColumn("is_current", col("is_current").cast("int"))),

    "events_lifecycle" -> ((s, dir) =>
      graft.operators.Events.lifecycle(events(s, dir))),

    // ---- streaming funnel, REPLAYED to batch (op 337): the op-330
    // reach flags maintained per user at ingest (flatMapGroupsWithState,
    // two longs + a boolean of state per user); the oracle is the batch
    // events_funnel SQL verbatim — batch/stream parity for funnels.
    "streaming_funnel" -> ((s, dir) => {
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
    }),

    "events_attribution" -> ((s, dir) =>
      graft.operators.Events
        .attribution(events(s, dir), "purchase", 604800000000L)),

    "events_rfm" -> ((s, dir) =>
      graft.operators.Events.rfm(events(s, dir), "purchase")),

    // op 364: time-to-convert — the funnel's latency dimension (ops
    // 330/349 measure reach, this measures HOW LONG): per user, first
    // signup → first strictly-later purchase, lag in exact floor-
    // division seconds; R-7 median/p90 over integer lags + the exact
    // conversion rate. Two user-keyed aggs + a driver-sized report.
    "events_conversion_lag" -> ((s, dir) => {
      val ev = events(s, dir)
      val t0 = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("t0"))
      val lag_ = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("t1"))
        .join(t0, "user_id")
        .where(col("t1") > col("t0"))
        .groupBy(col("user_id"))
        .agg(min(col("t1")).as("t1"), min(col("t0")).as("t0"))
        .select(floor((col("t1") - col("t0")) / 1e6).cast("long")
          .as("lag_s"))
      val nSign = t0.agg(count(lit(1)).as("n_signups"))
      lag_.agg(count(lit(1)).as("n_converted"),
          // r14: one percentile buffer for both cuts (same R-7 values)
          percentile(col("lag_s"), array(lit(0.5), lit(0.9))).as("_q2"))
        .withColumn("_med", element_at(col("_q2"), 1))
        .withColumn("_p90", element_at(col("_q2"), 2))
        .crossJoin(broadcast(nSign))
        .select(col("n_signups"), col("n_converted"),
          (floor(col("n_converted").cast("double") / col("n_signups")
            * 1e6 + lit(0.5)) / 1e6).as("conversion_rate"),
          round(col("_med"), 1).as("median_lag_s"),
          round(col("_p90"), 1).as("p90_lag_s"))
    }),

    // op 357: DAU/WAU/MAU + stickiness — the canonical engagement
    // report; three (grain, user)-keyed distinct aggs, driver-sized
    // joins, exact-integer ratio on the q6 grid.
    "events_dau_mau" -> ((s, dir) =>
      graft.operators.Events.dauMau(events(s, dir))),

    // op 351: cohort LTV curves — the revenue companion of op 331;
    // exact decimal weekly revenue, cumulative per-member LTV on the
    // q6 floor grid, cumulative window over the driver-sized report.
    "events_cohort_ltv" -> ((s, dir) =>
      graft.operators.Events.cohortLtv(events(s, dir), "signup", "purchase")),

    "events_transitions" -> ((s, dir) =>
      graft.operators.Events.transitions(events(s, dir))),

    // op 356: top user journeys — the 3-event path counts behind every
    // "common flows" product report: two lags over the ONE
    // hash(user_id) exchange, keyed count, global top-10 as
    // TakeOrderedAndProject (driver-sized k, no unpartitioned window).
    "events_journeys" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("e2", lag(col("event_type"), 1).over(w))
        .withColumn("e1", lag(col("event_type"), 2).over(w))
        .where(col("e1").isNotNull)
        .groupBy(col("e1"), col("e2"), col("event_type").as("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(10)
    }),

    // op 366: streaming time-to-convert — (first-signup µs, converted)
    // state per user; signup markers + one exact lag per conversion
    // equal the batch first/first-later aggs, so the rollup replays
    // the batch op-364 oracle verbatim.
    "streaming_conversion_lag" -> ((s, dir) => {
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
    }),

    // op 361: streaming attribution — per-user (last touch, first
    // touch) state; each conversion's emitted row equals the batch
    // running-window row, so the channel rollup replays the batch
    // op-335 oracle verbatim.
    "streaming_attribution" -> ((s, dir) => {
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
    }),

    // op 358: streaming 3-event paths — two-string state per user; the
    // path multiset equals the batch two-lag pairs, so the top-10
    // rollup replays the batch op-356 oracle verbatim.
    "streaming_journeys" -> ((s, dir) => {
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
    }),

    // ---- streaming Markov transitions, REPLAYED to batch (op 345):
    // one-string-per-user state; the emitted pair multiset equals the
    // batch lag pairs, so the count/probability rollup replays the
    // batch op-338 oracle verbatim.
    "streaming_transitions" -> ((s, dir) => {
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
    }),

    // ---- streaming SCD2, REPLAYED to batch (op 339): the op-332
    // dimension maintained per user at ingest; closed intervals emit on
    // state change, the open row re-emits per batch, and the sink
    // groupBy keeps min(valid_to) — equals the batch SCD2 table, so the
    // oracle is the batch events_scd2 SQL verbatim.
    "streaming_scd2" -> ((s, dir) => {
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
    }),

    // ---- streaming sessionization, REPLAYED to batch (op 333): the
    // SAME session_window expression as the batch `sessionize` query,
    // run as a real Append-mode stream with watermark-bounded state and
    // flushed by the two-phase sentinel (see streaming_window_agg).
    // The oracle is the batch sessionize SQL verbatim — the strongest
    // possible batch/stream parity check for gap sessions.
    "streaming_sessionize" -> ((s, dir) =>
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
            .as("avg_duration_s"))),

    // ---- streaming exact dedup, REPLAYED to batch for the oracle
    // (op 80): a real Structured Streaming run — file source →
    // dropDuplicatesWithinWatermark → foreachBatch parquet sink — whose
    // final state DuckDB then checks. Output columns are all functions
    // of the digest (not of WHICH duplicate survived the state race),
    // so the result is deterministic at any parallelism/batching.
    "streaming_dedup" -> ((s, dir) =>
      streamReplay(s, dir, "documents", "sdedup") { src =>
        // synthetic deterministic event time (documents carry none);
        // 10-year watermark delay => nothing is ever late in replay,
        // while a production ingest would use a real bound
        val docs = src.withColumn("ts", replayTs(col("doc_id")))
        graft.streaming.EventStream
          .dedupExactStream(docs, "doc_id", "text", "ts", "3650 days")
          .select(md5(col("text")).as("digest"),
            length(col("text")).cast("long").as("text_len"))
      }),

    // Streaming MinHash near-dup (op 102), REPLAYED to batch: the
    // planted-dup corpus rebuilt IN-STREAM (copies carry larger ids →
    // later event time → always the flagged side); dup_of per doc =
    // min over hit buckets = the earliest sharer overall.
    "streaming_dedup_minhash" -> ((s, dir) => {
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
    }),

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
    "streaming_dedup_incremental" -> ((s, dir) => {
      val t0 = System.nanoTime()
      val ixPath =
        java.nio.file.Files.createTempDirectory("graft-sinc-ix").toString
      graft.streaming.Stateful.minhashIndexRelation(
          tbl(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text")
        .write.mode("overwrite").parquet(ixPath)
      setupStats("streaming_dedup_incremental") = (System.nanoTime() - t0) / 1e9
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
    }),

    // ---- stateful streaming running drawdown, REPLAYED to batch for
    // the oracle (op 72): a real flatMapGroupsWithState run over a file
    // source. Event time is synthesized from event_id (globally unique)
    // so in-batch ties can't reorder the high-water walk — per-row state
    // output is deterministic, and DuckDB replays it as a running-max
    // window. value > 0 filter keeps hw away from 0 (NaN drawdown).
    "streaming_drawdown" -> ((s, dir) => {
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
    }),

    // Streaming running TWAP (op 178): the op-176 benchmark live —
    // integer Σqp·Δms / ΣΔms state per symbol (see
    // Stateful.runningTwapStream), replayed by DuckDB as cumulative
    // window sums over the identical quantized integers.
    "streaming_twap" -> ((s, dir) => {
      import s.implicits._
      streamReplay(s, dir, "events", "stwap") { src =>
        val ticks = replayTicks(src)
          .as[graft.streaming.Stateful.Tick]
        graft.streaming.Stateful.runningTwapStream(ticks)
          .select(col("symbol"), unix_micros(col("ts")).as("ts_us"),
            round(col("price"), 6).as("price"),
            (floor(col("twap") * 1e6 + 0.5) / 1e6).as("twap"))
      }
    }),
    // Streaming running risk metrics (op 146): per-symbol running
    // log-return mean/vol/Sharpe from INTEGER state (1e-5-quantized
    // returns — addition-order/micro-batch independent, so the batch
    // oracle replays the identical integer sums and derives the same
    // doubles). Three longs of state per symbol; the live risk
    // dashboard twin of the full-sample eod ratio family.
    "streaming_risk" -> ((s, dir) => {
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
    }),
    // Streaming CUSUM drift monitor (op 294, the op-284 live twin on
    // the op-146 integer-state pattern): per-symbol Page recursion
    // over 1e-6-quantized SIMPLE returns — no transcendental anywhere,
    // so the state replays bit-exact with zero libm caveats; the
    // oracle reconstructs the recursion with the op-284 prefix-sum
    // closed form on integer cumulative windows. Breach flag at
    // 20 000 micro-units (2% cumulative drift).
    "streaming_cusum" -> ((s, dir) => {
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
    }),
    // Streaming A/B assignment gate (op 399, op 373's live twin at
    // EVENT grain): per-variant running counters (one long of state
    // per arm, arms scale independently), final counts joined
    // post-replay into the 1-df chi-square — the "is assignment
    // broken RIGHT NOW" monitor that fires before a nightly batch
    // SRM would.
    "streaming_ab_gate" -> ((s, dir) => {
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
    }),
    // Streaming win/loss streaks (op 386, the op-212 live twin):
    // per-symbol current-streak state on the same value>0-guarded
    // quantized-return replay as streaming_cusum; sign recursion is
    // transcendental-free so the batch oracle replays it with the
    // standard island prefix windows.
    "streaming_streaks" -> ((s, dir) => {
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
    }),
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
    "streaming_psi" -> ((s, dir) => {
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
    }),
    // Streaming chi-square drift monitor (op 246, the op-241 live
    // twin on the op-161 pattern): the source × lang contingency
    // cells only grow, so the max-merged Update sink equals the
    // batch table and the χ² report (same exact expected-count
    // algebra) replays the batch oracle — "has the language mix
    // drifted" at ingest latency.
    "streaming_chi2" -> ((s, dir) => {
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
    }),
    // Streaming bipower variation (op 224, the op-211 batch op's
    // live twin on the op-146 pattern): per-symbol running Σ(lr²)
    // and Σ(|lr_i||lr_{i−1}|) as 1e-12-quantized INTEGER state, the
    // Append sink max-merged (sums only grow) into the final
    // RV/BV/jump-share report — "was that move a jump?" at ingest
    // latency. Derived metrics use the q6 floor convention on
    // identical integers.
    "streaming_bipower" -> ((s, dir) => {
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
    }),
    // Streaming z-score anomaly gate (op 188): each tick scored
    // against the PRIOR running state — z = (r − mean')/vol' with
    // (n', Σq', Σq²') = the op-146 integer state MINUS the tick's own
    // contribution, so the score never conditions on the value it
    // judges. Pure derived algebra on the RiskRow integers: the state
    // op is runningRiskStream unchanged (3 longs/symbol), the oracle
    // replays the identical lag-free in-row subtraction. Flag compares
    // the FLOORED z (the q6 convention) so the 3σ threshold test is
    // the same deterministic double comparison on both engines.
    "streaming_zscore" -> ((s, dir) => {
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
    }),

    // ---- streaming windowed agg, REPLAYED to batch (op 58): the real
    // readStream → watermark → window agg path in Append mode. A
    // sentinel row far in the future pushes the final watermark past
    // every real window so the no-data closing batch flushes them all;
    // the sentinel's own window is excluded by event_type.
    "streaming_window_agg" -> ((s, dir) =>
      sentinelReplay(s, dir, "swa", "event_type", lit("zz_sentinel")) { src =>
        graft.streaming.EventStream
          .windowedStats(graft.sources.Tables.normalizeEventTs(src),
            "1 hour", "0 seconds")
          .select(unix_micros(col("window.start")).as("ws"), col("event_type"),
            col("n"), round(col("sum_value"), 4).as("sum_value"))
      }),

    // ---- streaming as-of quote enrichment, REPLAYED to batch (op 73):
    // one interleaved stream (even event_id = quote, odd = trade) keyed
    // by symbol; state carries the prevailing quote. Event times are
    // 1 ms apart by event_id, so ordering is tie-free and latencies are
    // exact integer ms on both engines.
    "streaming_asof" -> ((s, dir) => {
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
    }),

    // ---- streaming tick rule via transformWithState, REPLAYED to
    // batch (op 74): lag(price) as per-symbol RocksDB ValueState;
    // tie-free synthetic event time as in streaming_drawdown.
    "streaming_tick_rule" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try streamReplay(s, dir, "events", "str") { src =>
        val ticks = replayTicks(src).as[graft.streaming.Stateful.Tick]
        graft.streaming.Stateful.tickRule(ticks)
          .select(col("symbol"), unix_micros(col("ts")).as("ts_us"),
            round(col("price"), 6).as("price"), col("direction"))
      } finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }),

    // ---- OHLCV bars (reference tick/bars.py stub)
    "tick_time_bars" -> ((s, dir) => {
      val e = events(s, dir).withColumn("volume", volume)
      graft.operators.Bars
        .timeBars(e, "event_type", "ts", "value", "volume", "1 hour",
          tiebreak = Some("event_id"))
        .select(col("event_type"), unix_micros(col("bar_start")).as("bs"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
          round(col("volume"), 6).as("volume"),
          round(col("vwap"), 6).as("vwap"), col("n_ticks"))
    }),
    // Volume / dollar bars (op 59 extensions, López de Prado's
    // information-driven bars): equal-activity bars via exclusive
    // prefix sums — integral volume (and cent-quantized dollars) keep
    // the cumsum engine-exact, so bar EDGES replay bit-for-bit.
    "tick_volume_bars" -> ((s, dir) => {
      val e = events(s, dir).withColumn("volume", volume)
      graft.operators.Bars
        .volumeBars(e, "event_type", "ts", "value", "volume", threshold = 5000L,
          tiebreak = Some("event_id"))
        .select(col("event_type"), col("bar"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
          round(col("volume"), 6).as("volume"),
          round(col("vwap"), 6).as("vwap"), col("n_ticks"))
    }),
    // Streaming information-driven bars (op 136): the stream carries
    // ONE long of state per symbol (the exclusive unit prefix) and
    // stamps each tick with its bar id; integer units make the prefix
    // exact under any micro-batching, so streamed ids equal the batch
    // ids and the OHLCV report runs batch over the sink (oracles
    // shared with tick_volume_bars / tick_dollar_bars). replayTs
    // ordering == (ts, event_id) ordering: events' ts is unique and
    // monotone in event_id within each series.
    "streaming_volume_bars" -> ((s, dir) => {
      import s.implicits._
      val sunk = streamReplay(s, dir, "events", "svb") { src =>
        graft.streaming.Stateful.volumeBarStream(
          replayTicks(src, volume.as("volume")).as[graft.streaming.Stateful.VolTick],
          threshold = 5000L).toDF()
      }
      barSinkReport(sunk)
    }),
    // Streaming VPIN (op 194): one state transition stamps each tick
    // with its equal-volume bucket AND tick-rule direction (integer
    // prefix + last price — both micro-batch exact), so the toxicity
    // report over the sink equals the batch op and shares its oracle.
    "streaming_vpin" -> ((s, dir) => {
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
    }),
    "streaming_dollar_bars" -> ((s, dir) => {
      import s.implicits._
      val sunk = streamReplay(s, dir, "events", "sdb") { src =>
        graft.streaming.Stateful.dollarBarStream(
          replayTicks(src, volume.as("volume")).as[graft.streaming.Stateful.VolTick],
          thresholdCents = 50000000L).toDF()
      }
      barSinkReport(sunk)
    }),
    // op 138: watermarked stream-stream time-bounded join — trades
    // (purchase) joined to the last day of quotes (view) per user, both
    // sides streaming. Inner-join pairs emit exactly once under any
    // micro-batching; the 31-day delay covers the whole corpus span so
    // the replayed sink equals the batch join and the oracle is plain
    // SQL. Real event time (the ns→µs normalized ts), not replay time:
    // the join semantics are about the data's own clock.
    "streaming_interval_join" -> ((s, dir) => {
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
    }),
    "tick_dollar_bars" -> ((s, dir) => {
      val e = events(s, dir).withColumn("volume", volume)
      graft.operators.Bars
        .dollarBars(e, "event_type", "ts", "value", "volume",
          thresholdCents = 50000000L, tiebreak = Some("event_id"))
        .select(col("event_type"), col("bar"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
          round(col("volume"), 6).as("volume"),
          round(col("vwap"), 6).as("vwap"), col("n_ticks"))
    }),

    // ---- quote analytics + latency (reference quote/latency stubs)
    "quote_stats" -> ((s, dir) => {
      // deterministic synthetic book derived from events (same in oracle)
      val e = events(s, dir)
        .withColumn("bid", col("value"))
        .withColumn("ask", col("value") * (lit(1.0) + (col("event_id") % 50 + 1) / 10000.0))
        .withColumn("bs", (col("event_id") % 100 + 1).cast("double"))
        .withColumn("as", (col("event_id") % 73 + 1).cast("double"))
      e.groupBy(col("event_type")).agg(
          round(sum(graft.functions.Quote.spread(col("bid"), col("ask"))
            .cast("decimal(30,10)")).cast("double") / count(lit(1)), 6).as("avg_spread"),
          round(sum(graft.functions.Quote.relativeSpreadBps(col("bid"), col("ask"))
            .cast("decimal(30,10)")).cast("double") / count(lit(1)), 6).as("avg_rel_spread_bps"),
          round(sum(graft.functions.Quote.microprice(col("bid"), col("ask"), col("bs"), col("as"))
            .cast("decimal(30,10)")).cast("double") / count(lit(1)), 6).as("avg_microprice"))
    }),
    // Effective vs quoted spread (op 163): each trade as-of joins the
    // prevailing synthetic NBBO (bid/ask on the deterministic
    // stable-price grid), eff = 2·|p − mid| against the quoted
    // ask − bid — the execution-quality report (eff < quoted =
    // inside-spread fills). Per-row values quantize to 1e-6 longs
    // before the per-key mean (the asof_latency convention). Same
    // single key-shuffle as every as-of op.
    "tick_effective_spread" -> ((s, dir) => {
      val e = events(s, dir)
      val half = (col("event_id") % 5 + 1).cast("double") / 100.0
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), stablePrice.as("price"))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          (stablePrice - half).as("bid"), (stablePrice + half).as("ask"))
      val mid = (col("right_bid") + col("right_ask")) / 2.0
      AsOfJoin.backward(trades, quotes, "user_id", "ts", Seq("bid", "ask"))
        .where(col("right_bid").isNotNull)
        .withColumn("qeff",
          floor(abs(col("price") - mid) * 2.0 * 1e6 + 0.5).cast("long"))
        .withColumn("qspr",
          floor((col("right_ask") - col("right_bid")) * 1e6 + 0.5)
            .cast("long"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_trades"),
          (floor(sum(col("qeff")).cast("double") / count(lit(1)) + 0.5) / 1e6)
            .as("avg_eff_spread"),
          (floor(sum(col("qspr")).cast("double") / count(lit(1)) + 0.5) / 1e6)
            .as("avg_quoted_spread"))
    }),
    // Lee–Ready trade classification (op 192; Lee & Ready 1991): the
    // quote test first — above the prevailing mid = buy, below = sell
    // — falling back to the tick rule AT the mid (flat tick stays
    // unclassified). Tick direction computes on the trade relation
    // BEFORE the as-of join (the op-173 convention), so a trade
    // without a prevailing quote never distorts its successor's tick.
    // Same single as-of shuffle as the spread family; the buy fraction
    // is an exact integer ratio.
    "tick_lee_ready" -> ((s, dir) => {
      val e = events(s, dir)
      val half = (col("event_id") % 5 + 1).cast("double") / 100.0
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          stablePrice.as("price"))
        .withColumn("tick",
          when(col("price") > lag(col("price"), 1).over(wU), 1)
            .when(col("price") < lag(col("price"), 1).over(wU), -1)
            .otherwise(0))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          (stablePrice - half).as("bid"), (stablePrice + half).as("ask"))
      val mid = (col("right_bid") + col("right_ask")) / 2.0
      AsOfJoin.backward(trades, quotes, "user_id", "ts", Seq("bid", "ask"))
        .where(col("right_bid").isNotNull)
        .withColumn("side",
          when(col("price") > mid, 1)
            .when(col("price") < mid, -1)
            .otherwise(col("tick")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_trades"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_buy"),
          sum(when(col("side") === -1, 1L).otherwise(0L)).as("n_sell"),
          sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_unclassified"),
          round(sum(when(col("side") === 1, 1.0).otherwise(0.0))
            / count(lit(1)), 6).as("buy_frac"))
    }),
    // Realized-spread decomposition (op 173, Huang-Stoll lineage):
    // eff = realized + impact — realized = 2q·(p − mid_{t+5s})
    // (what the liquidity provider actually earned), impact =
    // 2q·(mid_{t+5s} − mid_t) (the information cost). Two as-of
    // passes: backward for the prevailing mid, forward from t+5s for
    // the future mid; trade sign q by the tick rule per key. Per-row
    // 1e-6-quantized longs before the floor-means.
    "tick_realized_spread" -> ((s, dir) => {
      val e = events(s, dir)
      val half = (col("event_id") % 5 + 1).cast("double") / 100.0
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          (stablePrice - half).as("bid"), (stablePrice + half).as("ask"))
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          stablePrice.as("price"))
        .withColumn("q",
          when(col("price") > lag(col("price"), 1).over(wU), 1.0)
            .when(col("price") < lag(col("price"), 1).over(wU), -1.0)
            .otherwise(1.0))
      val j1 = AsOfJoin.backward(trades, quotes, "user_id", "ts",
          Seq("bid", "ask"))
        .where(col("right_bid").isNotNull)
        .withColumn("mid0", (col("right_bid") + col("right_ask")) / 2.0)
        .select(col("user_id"),
          (col("ts") + expr("INTERVAL 5 SECONDS")).as("ts"),
          col("event_id"), col("price"), col("q"), col("mid0"))
      val mids = quotes.select(col("user_id"), col("ts"),
        ((col("bid") + col("ask")) / 2.0).as("mid"))
      AsOfJoin.forward(j1, mids, "user_id", "ts", Seq("mid"))
        .where(col("right_mid").isNotNull)
        .withColumn("qr", floor(col("q") * (col("price") - col("right_mid"))
          * 2.0 * 1e6 + 0.5).cast("long"))
        .withColumn("qi", floor(col("q") * (col("right_mid") - col("mid0"))
          * 2.0 * 1e6 + 0.5).cast("long"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_trades"),
          (floor(sum(col("qr")).cast("double") / count(lit(1)) + 0.5) / 1e6)
            .as("avg_realized_spread"),
          (floor(sum(col("qi")).cast("double") / count(lit(1)) + 0.5) / 1e6)
            .as("avg_price_impact"))
    }),
    "asof_latency" -> ((s, dir) => {
      val e = events(s, dir)
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("ts").as("quote_ts"))
      AsOfJoin.backward(trades, quotes, "user_id", "ts", Seq("quote_ts"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_trades"),
          // Exact integer sum / non-null count, quantized to whole µs
          // BEFORE the 1e6 rescale (round(x,6) on a ~1e10-µs-derived
          // average hits 1-ulp engine disagreement; floor(avg+0.5) is
          // the same IEEE ops on both engines).
          (floor(sum(graft.functions.Quote.quoteLatencyUs(col("ts"), col("right_quote_ts")))
              .cast("double") /
            count(graft.functions.Quote.quoteLatencyUs(col("ts"), col("right_quote_ts")))
            + lit(0.5)).cast("long") / 1e6)
            .as("avg_latency_s"))
    }),

    // ---- simulator (ops 40-41; rows-only)
    // Oracle-backed: the sim's randomness is md5-per-row + window
    // cumsum, so DuckDB replays the identical walk (ts as epoch-µs and
    // BIGINT casts per the parity conventions).
    "sim_quotes" -> ((s, dir) =>
      MarketSim.simulateQuotes(s, "SIM", days = 2, ticksPerDay = 5000)
        .select(col("ticker"), unix_micros(col("ts")).as("ts_us"),
          col("bid"), col("ask"), col("bid_size"), col("ask_size"),
          col("exchange").cast("long").as("exchange"), col("day"))),
    "sim_trades" -> ((s, dir) =>
      MarketSim.simulateTrades(
          MarketSim.simulateQuotes(s, "SIM", days = 2, ticksPerDay = 5000),
          targetVolumePerDay = 1000000L)
        .select(col("ticker"), unix_micros(col("ts")).as("ts_us"),
          col("price"), col("size"), col("side").cast("long").as("side"),
          col("exchange").cast("long").as("exchange"), col("day"))),
    // Whole-universe generation: tickers × days × ticks in ONE plan
    // (walk window partitioned by (ticker, day)) — the shape the
    // reference's per-symbol loop (sim/quotes.py:22) can't express.
    "sim_quotes_universe" -> ((s, dir) =>
      MarketSim.simulateQuotes(s, Seq("AAA", "BBB", "CCC"), days = 2,
          ticksPerDay = 2000, seed = 42L)
        .select(col("ticker"), unix_micros(col("ts")).as("ts_us"),
          col("bid"), col("ask"), col("bid_size"), col("ask_size"),
          col("exchange").cast("long").as("exchange"), col("day"))),
    // Full reference quote schema (sim/quotes.py:72-91): conditions/
    // indicators/tape + sequence/sip/trf timestamps, all md5-replayable.
    "sim_quotes_full" -> ((s, dir) =>
      MarketSim.simulateQuotes(s, "SIM", days = 2, ticksPerDay = 5000)
        .select(col("ticker"), unix_micros(col("ts")).as("ts_us"),
          col("bid"), col("ask"), col("bid_size"), col("ask_size"),
          col("exchange").cast("long").as("exchange"), col("day"),
          col("bid_exchange").cast("long").as("bid_exchange"),
          col("conditions"), col("indicators"),
          col("participant_timestamp"), col("sequence_number"),
          col("sip_timestamp"), col("tape").cast("long").as("tape"),
          col("trf_timestamp"))),
    // Full reference trade schema (sim/trades.py:80-98).
    "sim_trades_full" -> ((s, dir) =>
      MarketSim.simulateTrades(
          MarketSim.simulateQuotes(s, "SIM", days = 2, ticksPerDay = 5000),
          targetVolumePerDay = 1000000L)
        .select(col("ticker"), unix_micros(col("ts")).as("ts_us"),
          col("price"), col("size"), col("side").cast("long").as("side"),
          col("exchange").cast("long").as("exchange"), col("day"),
          col("conditions"), col("correction"), col("id"),
          col("participant_timestamp"), col("sequence_number"),
          col("sip_timestamp"), col("tape").cast("long").as("tape"),
          col("trf_id"), col("trf_timestamp"))),
    "sim_event_flags" -> ((s, dir) =>
      MarketSim.flagEventTicks(
          MarketSim.simulateQuotes(s, "SIM", days = 2, ticksPerDay = 5000),
          MarketSim.eventWindows(s, days = 2, numEvents = 3,
            minDurUs = 600000000L, maxDurUs = 3600000000L))
        .groupBy(col("day"))
        .agg(sum(col("in_event").cast("long")).as("n_event_ticks"),
          count(lit(1)).as("n_ticks"))),
    // Quote-to-trade ratio (op 372; /root/reference/README.md:44's
    // microstructure roadmap): quote updates per executed trade per
    // (ticker, day) — the venue-activity staple (a high ratio flags
    // quote-stuffing / fleeting liquidity). Two keyed counts over the
    // already-green sim tables + one broadcast join on the tiny
    // (ticker, day) key space; ratio quantized on the shared 1e-6
    // grid from two identical integers, so parity is exact.
    // Depth imbalance (op 391; the size-side companion of op 60's
    // price-side microprice): per (ticker, day) the mean signed book
    // imbalance (bid_size − ask_size)/(bid_size + ask_size) and the
    // bid-heavy tick fraction — the resting-liquidity pressure gauge.
    // Sizes are exact integers; per-tick imbalance quantizes to a
    // 1e-6 long (one double divide + floor, identical both engines),
    // sums exact. One keyed agg over the replayable sim quotes.
    "tick_depth_imbalance" -> ((s, dir) => {
      val q = MarketSim.simulateQuotes(s, "SIM", days = 2, ticksPerDay = 5000)
        .withColumn("imb_q",
          floor((col("bid_size") - col("ask_size")).cast("double") * 1e6
            / (col("bid_size") + col("ask_size")).cast("double")).cast("long"))
      q.groupBy(col("ticker"), col("day"))
        .agg(count(lit(1)).as("n_quotes"),
          (floor(sum(col("imb_q")).cast("double") / count(lit(1)) + 0.5)
            / 1e6).as("mean_imbalance"),
          (floor(sum(when(col("bid_size") > col("ask_size"), 1L)
            .otherwise(0L)).cast("double") / count(lit(1)) * 1e6 + 0.5)
            / 1e6).as("bid_heavy_frac"))
    }),
    "tick_quote_trade_ratio" -> ((s, dir) => {
      val quotes = MarketSim.simulateQuotes(s, "SIM", days = 2,
        ticksPerDay = 5000)
      val trades = MarketSim.simulateTrades(quotes,
        targetVolumePerDay = 1000000L)
      val nq = quotes.groupBy(col("ticker"), col("day"))
        .agg(count(lit(1)).as("n_quotes"))
      val nt = trades.groupBy(col("ticker"), col("day"))
        .agg(count(lit(1)).as("n_trades"))
      nq.join(broadcast(nt), Seq("ticker", "day"))
        .select(col("ticker"), col("day"), col("n_quotes"), col("n_trades"),
          (floor(col("n_quotes").cast("double")
            / col("n_trades").cast("double") * 1e6 + 0.5) / 1e6)
            .as("quote_trade_ratio"))
    }),

    // ---- composite pipeline: quality-filter → exact-dedup → per-lang
    // token accounting — the operators composing end-to-end (op 75)
    "pipeline_clean_corpus" -> ((s, dir) => {
      val scored = tbl(s, dir, "documents").select(col("doc_id"), col("text"),
        Text.qualityScore(col("text")).as("q"),
        Text.langId(col("text")).as("lang"))
      val kept = scored.where(col("q") >= 0.5)
      // exact() keeps all columns, so the dedup verdict filters in place
      // — no verdict join that would re-run the quality/lang scoring
      Dedup.exact(kept, "doc_id", "text")
        .where(!col("is_dup"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("total_tokens"))
    }),

    // ---- multimodal kernels (op 57) — all oracle-backed and all REAL
    // pixel work: synthetic-but-genuine PNGs round-trip through ImageIO
    // and every kernel operates on the decoded raster. The oracle
    // predicts each output from the md5-derived pixel formula
    // pixel(x,y) = digest[(x+y) mod 16] (grayscale PNG is lossless),
    // replaying the exact IEEE-double bilinear / integer-tile /
    // histogram arithmetic.
    "mm_decode" -> ((s, dir) =>
      Multimodal.decodeImage(
          Multimodal.withSyntheticPng(tbl(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "image")
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_px"), 6).as("mean_px"))),
    // Perceptual-hash near-dup over the media column (op 385): dHash
    // fingerprints (Krawetz's 8×8 gradient hash) from the REAL
    // decoded rasters, then band-blocked pairing with the standard
    // LSH AND-composition: a candidate must share a PAIR of 16-bit
    // bands (any of the C(4,2)=6 combos — a 32-bit blocking key).
    // Single-band blocking is n²/2¹⁶ in random collisions (the 50×
    // probe measured the quadratic creep: 14 s at 50k docs → 145 s
    // at 250k); the AND pair drops that to n²/2³² while still
    // catching every pair with ≥2 clean bands — Hamming ≤ 2
    // guaranteed by pigeonhole, and the exact/near dups this detects
    // in practice (identical payloads) match on ALL bands. Kept if
    // total Hamming ≤ 10. The decode is the mapPartitions media
    // kernel; all hashing/pairing is integer Column algebra.
    "mm_phash_dedup" -> ((s, dir) => {
      // localCheckpoint: the band relation (4 longs per doc) is read
      // three times below; pinning it pays the PNG encode+decode
      // kernel once instead of three times.
      val hb = Multimodal.dHashBands(
        Multimodal.withSyntheticPng(docCorpus(s, dir), "doc_id", "text"),
        "doc_id", "image").localCheckpoint()
      val cand = dHashCandPairs(hb)
      val ha = hb.select(col("doc_id").as("id_a"), col("h0").as("a0"),
        col("h1").as("a1"), col("h2").as("a2"), col("h3").as("a3"))
      val hbb = hb.select(col("doc_id").as("id_b"), col("h0").as("b0"),
        col("h1").as("b1"), col("h2").as("b2"), col("h3").as("b3"))
      val ham = bit_count(col("a0").bitwiseXOR(col("b0"))) +
        bit_count(col("a1").bitwiseXOR(col("b1"))) +
        bit_count(col("a2").bitwiseXOR(col("b2"))) +
        bit_count(col("a3").bitwiseXOR(col("b3")))
      cand.join(ha, "id_a").join(hbb, "id_b")
        .select(col("id_a"), col("id_b"), ham.cast("long").as("hamming"))
        .where(col("hamming") <= 10)
    }),
    // Op-169 harness on the pHash family (op 404, r13 verdict #4):
    // the 2-of-4 band candidate set graded BEFORE the Hamming verify
    // against exact Hamming≤10 ground truth. The banding does NOT
    // pigeonhole-guarantee radius 10 (10 errors can touch 3 of 4
    // 16-bit bands, killing every 2-band combo), so its recall is a
    // MEASURED number, not an implied one; precision quantifies what
    // the exact-verify step has to filter. Truth is the op-169
    // eval-scoped brute baseline: an all-pairs broadcast
    // nested-loop over the n-doc × 4-long band relation — quadratic
    // BY DEFINITION of an exact-truth eval, sized to the eval
    // corpus, never part of the production dedup path (that path is
    // the banded op 385).
    "dedup_eval_phash" -> ((s, dir) => {
      val hb = Multimodal.dHashBands(
        Multimodal.withSyntheticPng(docCorpus(s, dir), "doc_id", "text"),
        "doc_id", "image").localCheckpoint()
      val cand = dHashCandPairs(hb)
      val ha = hb.select(col("doc_id").as("id_a"), col("h0").as("a0"),
        col("h1").as("a1"), col("h2").as("a2"), col("h3").as("a3"))
      val hbb = hb.select(col("doc_id").as("id_b"), col("h0").as("b0"),
        col("h1").as("b1"), col("h2").as("b2"), col("h3").as("b3"))
      val ham = bit_count(col("a0").bitwiseXOR(col("b0"))) +
        bit_count(col("a1").bitwiseXOR(col("b1"))) +
        bit_count(col("a2").bitwiseXOR(col("b2"))) +
        bit_count(col("a3").bitwiseXOR(col("b3")))
      val truth = broadcast(ha).crossJoin(hbb)
        .where(col("id_a") < col("id_b") && ham <= 10)
        .select(col("id_a"), col("id_b"))
      dedupEvalReport(truth, cand)
    }),
    "mm_resize" -> ((s, dir) => {
      import s.implicits._
      Multimodal.resizeBilinear(
          Multimodal.withSyntheticPng(tbl(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "image", w = 8, h = 8)
        .as[(Long, Int, Int, Array[Byte])]
        .map { case (id, w, h, px) =>
          (id, w.toLong, h.toLong,
            math.floor(px.map(_ & 0xff).sum.toDouble / px.length * 1e6 + 0.5) / 1e6)
        }
        .toDF("doc_id", "width", "height", "mean_pixel")
    }),
    "mm_frames" -> ((s, dir) => {
      import s.implicits._
      Multimodal.frameGrid(
          Multimodal.withSyntheticPng(tbl(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "image", gx = 2, gy = 2)
        .as[(Long, Int, Int, Int, Array[Byte])]
        .map { case (id, f, w, h, px) =>
          (id, f.toLong, w.toLong, h.toLong,
            math.floor(px.map(_ & 0xff).sum.toDouble / px.length * 1e6 + 0.5) / 1e6)
        }
        .toDF("doc_id", "frame_idx", "width", "height", "mean_px")
    }),
    "mm_embed" -> ((s, dir) =>
      Multimodal.featureExtract(
          Multimodal.withSyntheticPng(tbl(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "image", dim = 64)
        .select(col("doc_id"),
          expr("size(filter(embedding, x -> x > 0))").cast("long").as("n_bins"),
          (expr("array_position(embedding, array_max(embedding))") - 1)
            .cast("long").as("top_bin"))),
    // Audio-column plumbing (op 243, the op-57 family's audio leg):
    // synthetic raw-PCM binary payloads (md5-derived — no wav codec
    // ships in a JDK, and raw PCM is what a codec decodes INTO),
    // framed per 64 samples with RMS energy + zero-crossing rate —
    // the classic silence/voicing gates. Batched mapPartitions like
    // every media kernel; integer sums → SQL-exact doubles.
    "mm_audio" -> ((s, dir) =>
      Multimodal.audioFrameEnergy(
          Multimodal.withSyntheticPcm(tbl(s, dir, "documents"),
            "doc_id", "text"),
          "doc_id", "audio")
        .select(col("doc_id"), col("frame_id"), col("n_samples"),
          round(col("rms"), 6).as("rms"), round(col("zcr"), 6).as("zcr"))),

    // ---- PII detection/redaction (op 82) and unigram-LM quality
    // scoring (op 83)
    "text_pii_stats" -> ((s, dir) =>
      contactCards(s, dir).select(col("c_custkey"),
        Pii.emailCount(col("text")).cast("long").as("n_email"),
        Pii.phoneCount(col("text")).cast("long").as("n_phone"),
        Pii.ipv4Count(col("text")).cast("long").as("n_ipv4"),
        Pii.hasPii(col("text")).as("has_pii"))),
    "text_pii_redact" -> ((s, dir) =>
      contactCards(s, dir).select(col("c_custkey"),
        Pii.redact(col("text")).as("redacted"))),
    "corpus_lm_score" -> ((s, dir) =>
      Corpus.lmScore(tbl(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("lm_xent"),
          col("n_tokens").cast("long").as("n_tokens"))),
    // CCNet-style perplexity buckets (op 383; Wenzek et al. 2020):
    // per-language head/middle/tail TERCILES of the op-83 unigram
    // cross-entropy — the quality-stratified split CCNet feeds
    // downstream (head = cleanest third). ntile(3) over the
    // (quantized xent, doc_id) order is engine-exact; per-bucket
    // token mass is what the mixture planner actually budgets on.
    "corpus_ppl_buckets" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val lm = Corpus.lmScore(d, "doc_id", "text")
      val wB = Window.partitionBy(col("lang"))
        .orderBy(col("lm_xent"), col("id"))
      lm.join(d.select(col("doc_id").as("id"), col("lang")), "id")
        .withColumn("b", ntile(3).over(wB))
        .groupBy(col("lang"), col("b"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          (floor(sum(floor(col("lm_xent") * 1e6 + 0.5)).cast("double")
            / count(lit(1)) + 0.5) / 1e6).as("mean_xent"))
        .select(col("lang"),
          when(col("b") === 1, "head").when(col("b") === 2, "middle")
            .otherwise("tail").as("bucket"),
          col("n_docs"), col("n_tokens"), col("mean_xent"))
    }),
    "dedup_chunks" -> ((s, dir) =>
      Corpus.chunkDedup(tbl(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_chunks"),
          col("n_dup_chunks"), col("clean_text"))),
    // Composite curation v2 (op 100): corpus-LM quality filter ×
    // exact-substring dedup filter × per-language token accounting,
    // all ONE plan over the planted-dup corpus.
    "pipeline_curate_v2" -> ((s, dir) => {
      val c = docCorpus(s, dir)
      val lm = Corpus.lmScore(c, "doc_id", "text")
      val wd = Corpus.windowDedup(c, "doc_id", "text")
      val lang = tbl(s, dir, "documents")
        .select(col("doc_id").as("orig_id"), col("lang"))
      lm.select(col("id").as("doc_id"), col("lm_xent"), col("n_tokens"))
        .join(wd.select(col("id").as("doc_id"), col("max_dup_run")),
          "doc_id")
        .join(lang, col("doc_id") % 1000000 === col("orig_id"))
        .where(col("lm_xent") < 3.43 && col("max_dup_run") <= 2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    }),
    // Fixed-size per-source sample (op 98) and temperature-scaled
    // mixture weights (op 99) over the documents source strata.
    "corpus_sample_n" -> ((s, dir) =>
      Corpus.stratifiedSampleN(
          tbl(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", col("source"), n = 5)
        .select(col("stratum").as("source"), col("doc_id"))),
    "corpus_mixture" -> ((s, dir) =>
      Corpus.mixtureWeights(tbl(s, dir, "documents"), col("source"),
          "text", alpha = 0.5)
        .select(col("stratum").as("source"), col("n_docs"),
          col("n_tokens"), col("share"), col("weight"))),
    // UniMax budget allocation (op 293; Chung et al. 2023): the
    // op-99 temperature rule's successor — as-uniform-as-possible
    // language budgets capped at each language's own size, at 60% of
    // the corpus. Water level θ from a one-row array fold; counts are
    // exact in doubles so no quantization is needed (Corpus.scala
    // scaladoc).
    "corpus_unimax" -> ((s, dir) =>
      Corpus.unimaxAllocation(tbl(s, dir, "documents"), col("lang"), 0.6)
        .select(col("stratum").as("lang"), col("n_docs"),
          round(col("alloc"), 4).as("alloc"),
          round(col("alloc") / col("n_docs").cast("double"), 6).as("epochs"))),
    // Per-source token-distribution diagnostics (op 155): unigram
    // entropy + KL from the pooled corpus distribution — the
    // mixture-health signal (templated sources: low H, high KL).
    // Integer-quantized per-term sums, divided at the end.
    "corpus_kl" -> ((s, dir) =>
      Corpus.klDivergence(tbl(s, dir, "documents"), col("source"), "text")
        .select(col("stratum").as("source"), col("n_tokens"), col("vocab"),
          col("entropy"), col("kl_from_corpus"))),
    // Token-budget mixture plan (op 156): mixtureWeights → executable
    // per-source Bernoulli rates for a 100k-token budget; the rate
    // column feeds stratifiedSample directly.
    "corpus_token_budget" -> ((s, dir) =>
      Corpus.tokenBudgetPlan(tbl(s, dir, "documents"), col("source"),
          "text", budgetTokens = 100000L, alpha = 0.5)
        .select(col("stratum").as("source"), col("n_docs"), col("n_tokens"),
          col("weight"), col("target_tokens"), col("rate"),
          col("expected_tokens"))),
    // Dedup impact report (op 167): what the curation pipeline prints
    // after exact dedup — per source, how many docs and tokens the
    // digest-canonical pass removes (keep = min doc_id per md5
    // digest, the op-46 rule). One digest groupBy joined back + one
    // keyed agg; the planted +2000000 copies make the removal
    // non-trivial and the %-of-corpus column meaningful.
    "corpus_dedup_report" -> ((s, dir) => {
      val c = docCorpus(s, dir)
      val canon = c.groupBy(md5(col("text")).as("digest"))
        .agg(min(col("doc_id")).as("canonical_id"))
      val lang = tbl(s, dir, "documents")
        .select(col("doc_id").as("orig_id"), col("source"))
      c.withColumn("digest", md5(col("text")))
        .join(canon, "digest")
        .join(lang, col("doc_id") % 1000000 === col("orig_id"))
        .withColumn("removed",
          (col("doc_id") =!= col("canonical_id")).cast("long"))
        .withColumn("ntok", Text.tokenCount(col("text")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("removed")).as("n_removed"),
          sum(col("removed") * col("ntok")).as("tokens_removed"),
          round(sum(col("removed")).cast("double") / count(lit(1)), 6)
            .as("removed_frac"))
    }),
    // Executed token budget (op 172): the op-156 plan applied — docs
    // join their stratum's broadcast rate, the md5 coin keeps ~rate of
    // each source, and the report shows achieved vs target tokens (a
    // saturated stratum keeps everything; the rest land near target).
    // Pure filter at the scan + one keyed agg, deterministic on any
    // engine/partitioning.
    "corpus_budget_sample" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val plan = Corpus.tokenBudgetPlan(d, col("source"), "text",
          budgetTokens = 100000L, alpha = 0.5)
        .select(col("stratum"), col("rate"), col("target_tokens"))
      d.join(broadcast(plan), col("source") === col("stratum"))
        .where(Corpus.md5Uniform(col("doc_id")) < col("rate"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(Text.tokenCount(col("text")).cast("long")).as("tokens_kept"),
          max(col("target_tokens")).as("target_tokens"))
    }),
    // Overlapping-window substring dedup (op 96) on the planted-dup
    // corpus: the +2000000 exact copies must show full-length runs.
    "dedup_windows" -> ((s, dir) =>
      Corpus.windowDedup(docCorpus(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_windows"),
          col("n_dup_windows"), col("max_dup_run"))),
    "embed_kmeans" -> ((s, dir) =>
      Cluster.kmeans(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2)
        .select(col("id").as("vec_id"), col("cluster"))),
    // Cluster quality vs ground truth (op 389): purity and NMI of
    // the op-85 k-means assignment against the embeddings' labels —
    // the representation-eval report run after every re-embed. The
    // contingency table is (k × labels)-sized; purity is an exact
    // rational, NMI's ln terms are identical doubles from exact
    // integer counts (the op-155 log-parity precedent).
    "embed_cluster_purity" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      // r14: the contingency table feeds FIVE consumers (row/col/total
      // margins, purity, MI) — pin it so the iters+1-pass Lloyd chain
      // upstream runs once, not once per consumer (op-317 convention;
      // the pinned relation is ≤ k·|labels| rows — flat in corpus,
      // SCALE §19). At cluster scale swap for `checkpoint` (the
      // SemDeDup convention, Cluster.semanticDedupVerdict).
      val ct = Cluster.kmeans(e, "vec_id", "embedding", k = 8, iters = 2)
        .join(e.select(col("vec_id").as("id"), col("label")), "id")
        .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val rowT = ct.groupBy(col("cluster")).agg(sum(col("n")).as("nc"))
      val colT = ct.groupBy(col("label")).agg(sum(col("n")).as("nl"))
      val nT = ct.agg(sum(col("n")).as("nn"))
      val nD = col("nn").cast("double")
      val pur = ct.groupBy(col("cluster")).agg(max(col("n")).as("mx"))
        .agg(sum(col("mx")).as("pur_num"))
      val hC = rowT.crossJoin(broadcast(nT))
        .agg(sum(-(col("nc").cast("double") / nD)
          * log(col("nc").cast("double") / nD)).as("h_c"))
      val hL = colT.crossJoin(broadcast(nT))
        .agg(sum(-(col("nl").cast("double") / nD)
          * log(col("nl").cast("double") / nD)).as("h_l"))
      val mi = ct.join(broadcast(rowT), "cluster")
        .join(broadcast(colT), "label").crossJoin(broadcast(nT))
        .agg(sum((col("n").cast("double") / nD)
          * log(nD * col("n").cast("double")
            / (col("nc").cast("double") * col("nl").cast("double"))))
          .as("mi"))
      val nClus = rowT.agg(count(lit(1)).as("n_clusters"))
      pur.crossJoin(hC).crossJoin(hL).crossJoin(mi)
        .crossJoin(nT).crossJoin(nClus)
        .select(col("nn").as("n"), col("n_clusters"),
          (floor(col("pur_num").cast("double") / nD * 1e6 + 0.5) / 1e6)
            .as("purity"),
          (round(when(col("h_c") > 0 && col("h_l") > 0,
            col("mi") / sqrt(col("h_c") * col("h_l"))), 6) + lit(0.0))
            .as("nmi"))
    }),
    "dedup_semantic" -> ((s, dir) =>
      Cluster.semanticDedupPairs(embCorpus(s, dir), "vec_id", "embedding",
          0.99, k = 8, iters = 2)),
    "dedup_semantic_verdict" -> ((s, dir) =>
      Cluster.semanticDedupVerdict(embCorpus(s, dir), "vec_id", "embedding",
          0.99, k = 8, iters = 2)
        .select(col("id").as("vec_id"), col("component"), col("keep"),
          col("canonical_id"))),
    // ---- embedding-store ops: cluster pruning (op 88), int8 scalar
    // quantization (op 89), JL random projection (op 90)
    "embed_prune" -> ((s, dir) =>
      Cluster.clusterPrune(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          keepFrac = 0.5, k = 8, iters = 2)
        .select(col("id").as("vec_id"), col("cluster"), col("dist2"),
          col("rnk"), col("keep"))),
    "embed_sq8" -> ((s, dir) =>
      graft.operators.Embed.scalarQuantizeInt8(
          tbl(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("code_digest"),
          col("max_abs_err"), col("mean_abs_err"))),
    // Top principal component by IN-PLAN power iteration (op 198 —
    // the linear-algebra sibling of the in-plan Lloyd k-means, op 85):
    // v ← C·v / ||C·v|| iterated 5 times from the uniform start, then
    // one final multiply yields the loadings, the top eigenvalue, and
    // its explained-variance share. No driver-side state, no collect:
    // the iterate and its norm ride on ONE broadcast row, and each
    // iteration is ONE map-side-combinable (pos) aggregation over rows
    // carrying the centered vector — the per-row x·v is an
    // INTEGER fold (1e-4-quantized components × 1e-4-quantized v), the
    // per-dim Σ x_d·(x·v) are integer sums, and the 64-element norm
    // squares through DECIMAL(19,0)² (long² would overflow; a float
    // sum's association would wiggle) — so every engine replays v
    // bit-for-bit. Centering means come from quantized integer sums.
    // Integer headroom: |Σ xq·ssc| ≤ N·dim·(1.2e4)²·8 ≈ N·1e10 — exact
    // to N ≈ 1e8 rows; beyond that, coarsen the grid one decade.
    "embed_power_iter" -> ((s, dir) => {
      val (means, _, top) = embTopPc(s, dir)
      val scalars = means
        .withColumn("varp", ((col("sxx").cast("double")
          - col("sx").cast("double") * col("sx") / col("n")) / col("n")
          / 1e8).cast("decimal(30,12)"))
        .agg(sum(col("varp")).cast("double").as("totvar"),
          max(col("n")).cast("double").as("nn"))
      top.crossJoin(broadcast(scalars))
        .select(posexplode(col("va")).as(Seq("pos", "vq")), col("nrm"),
          col("nn"), col("totvar"))
        .select(col("pos"),
          (round(col("vq") / 1e4, 4) + lit(0.0)).as("loading"),
          (round(col("nrm") / 1e8 / col("nn"), 6) + lit(0.0)).as("eigval"),
          (round(col("nrm") / 1e8 / col("nn") / col("totvar"), 4)
            + lit(0.0)).as("var_share"))
    }),
    // All-but-the-top whitening (op 327; Mu/Viswanath 2018): the
    // standard embedding post-process for retrieval — center, then
    // project out the top principal direction, which in real
    // embedding stores soaks up a large common component and washes
    // out cosine contrast. Reuses the op-198 quantized power-iter
    // engine (embTopPc) verbatim: per-vector coefficient d = Σ xq·vq
    // is an exact long fold, the removed component (d·vq)/1e8 floors
    // on identical doubles (d ≲ 6e13 ≪ 2^53), so the corrected
    // components replay bit-for-bit. Long output format (vec_id, pos,
    // xw) — the op-90 embed_rp convention. At 100 TB: the PC fit is
    // the op-198 cost, the projection a map-only second pass.
    "embed_whitening" -> ((s, dir) => {
      val (_, rows, top) = embTopPc(s, dir)
      rows.crossJoin(broadcast(top.select(col("va"))))
        .withColumn("d", dot(col("xqa"), col("va"), lit(0L)))
        .select(col("id").as("vec_id"), col("d"), col("va"),
          posexplode(col("xqa")).as(Seq("pos", "xq")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          ((col("xq") - floor(col("d").cast("double") * col("va")(col("pos"))
            / 1e8 + 0.5).cast("long")).cast("double") / 1e4).as("xw"))
    }),
    // Class-scatter report (op 193, the Fisher-criterion diagnostic —
    // is the embedding space separable by label?): per label, the
    // within-class variance (mean per-dim var) and the distance of the
    // class centroid to the global centroid; fisher = between²/within.
    // EXACTNESS: components quantize to 1e-6 longs → per-(label, dim)
    // sums are integers, centroids exact integer ratios; per-dim
    // double terms then sum through DECIMAL casts (order-free, the
    // quote_stats convention). Shape: explode → ONE (label, dim) hash
    // agg (64·K rows) → label-sized algebra; the raw corpus is read
    // once, and the "global" pass is a rollup of the label sums, not
    // a rescan.
    "embed_class_scatter" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .withColumn("xq", floor(col("x") * 1e6 + 0.5).cast("long"))
      val byLab = e.groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("xq")).as("sq"),
          sum(col("xq") * col("xq")).as("sq2"))
      val glob = byLab.groupBy(col("pos"))
        .agg(sum(col("sq")).as("gsq"), sum(col("n")).as("gn"))
      byLab.join(broadcast(glob), "pos")
        .withColumn("vard",
          (col("sq2").cast("double") / col("n")
            - pow(col("sq").cast("double") / col("n"), 2)) / 1e12)
        .withColumn("diffsq",
          pow(col("sq").cast("double") / col("n")
            - col("gsq").cast("double") / col("gn"), 2))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n_vecs"),
          (sum(col("vard").cast("decimal(30,12)")).cast("double")
            / count(lit(1))).as("wv"),
          (sum(col("diffsq").cast("decimal(38,6)")).cast("double") / 1e12)
            .as("bsq"))
        .select(col("label"), col("n_vecs"),
          round(col("wv"), 6).as("within_var"),
          round(sqrt(col("bsq")), 6).as("between_dist"),
          (round(when(col("wv") > 0, col("bsq") / col("wv")), 6) + lit(0.0))
            .as("fisher"))
    }),
    "embed_rp" -> ((s, dir) =>
      graft.operators.Embed.randomProject(
          tbl(s, dir, "embeddings"), "vec_id", "embedding",
          outDim = 16, dim = 64)
        .select(col("id").as("vec_id"), col("pos"), col("y"))),
    // Sign quantization + Hamming search over packed codes (op 97)
    "embed_binary" -> ((s, dir) =>
      graft.operators.Embed.binarize(
          tbl(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("w"), col("word"))),
    "ann_topk_hamming" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      graft.operators.Embed.hammingTopK(
          e.where(col("vec_id") < 5), e.where(col("vec_id") >= 5),
          "vec_id", "embedding", 3)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          col("hamming"))
    }),
    // ---- TF-IDF keywords (op 91), DSIR importance weights (op 92),
    // Bloom-filter decontamination pre-filter (op 93)
    "text_tfidf" -> ((s, dir) =>
      Corpus.tfIdfTopTerms(tbl(s, dir, "documents"), "doc_id", "text",
          topK = 3)
        .select(col("id").as("doc_id"), col("rnk"), col("term"),
          col("tfidf"))),
    "corpus_dsir" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      Corpus.dsirWeight(d, d.where(col("lang") === "en"), d,
          "doc_id", "text", buckets = 1024)
        .select(col("id").as("doc_id"), col("n_feats"), col("log_weight"))
    }),
    // Same corpus and bench split as corpus_contamination: the bloom
    // pre-filter must flag (at least) every doc the exact op catches.
    "corpus_bloom" -> ((s, dir) => {
      val c = docCorpus(s, dir)
      val isBench = col("doc_id") % 97 === 0 && col("doc_id") < 1000000
      Corpus.bloomContamination(c.where(!isBench), c.where(isBench),
          "doc_id", "text", width = 8, bits = 65536, hashes = 3)
        .select(col("id").as("doc_id"), col("n_grams"),
          col("n_bloom_hits"), col("flagged"))
    }),
    // op 393: the op-93 filter's measured-vs-theoretical FPR — every
    // probe gram is a false positive by length-disjoint construction.
    "sketch_bloom_fpr" -> ((s, dir) =>
      Corpus.bloomFpr(tbl(s, dir, "documents"), "text")),
    // HLL distinct-token sketch per source + the max-merged __ALL__ row
    // (SURVEY §2 op 118) — the mergeability demo: the global row comes
    // from the per-source register tables, NOT from rescanning tokens.
    // exact_distinct rides along for the error story.
    "sketch_hll" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      hllReport(s, dir, Sketch.hllRegisters(toks, Seq("source"), "tok", m = 256))
    }),
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
    "streaming_quality_gate" -> ((s, dir) =>
      streamReplay(s, dir, "documents", "sgate") { src =>
        Corpus.gopherQualityRules(src, "doc_id", "text")
      }),
    // Streaming readability scoring (op 283, the op-170 stateless-gate
    // pattern on op 276): the regex counts and score algebra are pure
    // per-row maps, so the streaming plan IS the batch plan behind a
    // file source — each arriving doc is scored at ingest, the Append
    // sink equals the batch table row-for-row, oracle shared with
    // text_readability.
    "streaming_readability" -> ((s, dir) =>
      streamReplay(s, dir, "documents", "sread")(readabilityScores)),
    // Streaming split assignment (op 201, the op-170 stateless-gate
    // pattern on op 197): the md5-coin split is a pure per-row map, so
    // the streaming plan IS the batch plan behind a file source — each
    // arriving doc is stamped train/val/test at ingest, the Append
    // sink equals the batch assignment row-for-row, and the manifest
    // report over the sink shares corpus_split's oracle.
    "streaming_split" -> ((s, dir) => {
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
    }),
    // Streaming mixture monitor (op 161): per-source doc/token counts
    // as a declarative Update-mode streaming aggregation — state is
    // ONE row per source by construction, no watermark needed. Counts
    // only grow, so the max-merged sink IS the final count table (the
    // op-123/142 argument) and the shared quantized weight algebra
    // (Corpus.mixtureWeightsFromCounts) reproduces the batch mixture
    // exactly — the live view of "what is the mix right now" during
    // ingestion, sharing corpus_mixture's oracle.
    "streaming_mixture" -> ((s, dir) => {
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
    }),
    // Streaming intraday volume profile (op 244, the op-242 live
    // twin on the op-161 pattern): per-(symbol, hour) integer volume
    // counts only grow, so the max-merged Update sink equals the
    // batch table and the share report replays the batch oracle.
    "streaming_volume_profile" -> ((s, dir) => {
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
    }),
    "streaming_hll" -> ((s, dir) => {
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
    }),
    // Count-Min heavy hitters over the document tokens (op 119):
    // fixed 4×1024 counter table, estimate = min over hash rows,
    // global top-20 via TakeOrdered (no single-partition window).
    "sketch_cms_topk" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
      Sketch.cmsTopK(toks, "tok", depth = 4, width = 1024, topK = 20)
        .select(col("v").as("token"), col("est_cnt"), col("exact_cnt"))
    }),
    // HLL set algebra (op 125): pairwise source-overlap estimates by
    // register algebra alone — |A∪B| from max-merged registers (no
    // rescan), |A∩B| by inclusion-exclusion. Exact intersections ride
    // along for the error story.
    "sketch_hll_overlap" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      val regs = Sketch.hllRegisters(toks, Seq("source"), "tok", m = 256)
        .withColumnRenamed("source", "g")
      val dt = toks.distinct()
      val exact = dt.select(col("source").as("ga"), col("tok"))
        .join(dt.select(col("source").as("gb"), col("tok")), "tok")
        .where(col("ga") < col("gb"))
        .groupBy(col("ga"), col("gb"))
        .agg(countDistinct(col("tok")).as("exact_intersect"))
      Sketch.hllOverlap(regs, m = 256)
        .join(exact, Seq("ga", "gb"), "left")
        .select(col("ga").as("source_a"), col("gb").as("source_b"),
          col("est_a"), col("est_b"), col("est_union"), col("est_intersect"),
          coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
    }),
    // KMV bottom-k distinct sketch (op 129): per-source estimates
    // plus the lossless __ALL__ merge — the bottom-k of the union of
    // SKETCHES (KBs), never a corpus rescan. Exact distincts ride
    // along for the error story, as in sketch_hll.
    "sketch_kmv" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      kmvReport(s, dir,
        Sketch.kmvSketch(toks, Seq("source"), "tok", k = 64))
    }),
    // AMS/Tug-of-War F₂ sketch (op 187; Alon–Matias–Szegedy 1996):
    // the second frequency moment Σc_k² — the self-join size, the
    // quantity that prices every equi-join on the key — estimated
    // from 64 ±1 sign estimators X_j = Σ_k s_j(k)·c_k, F̂₂ = mean X_j².
    // Signs are md5-derived (first-nibble parity, replayed verbatim in
    // SQL), counts integral → every sum is exact under any aggregation
    // order. The estimator relation is the DISTINCT-KEY relation × 64
    // (keys ≪ rows: the sketch never touches raw events twice), so at
    // 100 TB the cost is one keyed count agg + a key-sized fan-out.
    // The exact F₂ rides along as the oracle-visible ground truth.
    "sketch_f2" -> ((s, dir) => {
      // r14: counts feeds both the AMS estimate and the exact F2 agg —
      // pin the keyed count relation so the events scan runs once.
      val counts = events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val sgn = when(
        conv(substring(md5(concat(lit("ams"), col("j").cast("string"),
          lit("_"), col("user_id").cast("string"))), 1, 1), 16, 10)
          .cast("int") % 2 === 0, 1).otherwise(-1)
      val est = counts
        .select(col("user_id"), col("c"),
          explode(sequence(lit(0), lit(63))).as("j"))
        .withColumn("sgn", sgn)
        .groupBy(col("j"))
        .agg(sum(col("sgn") * col("c")).as("x"))
        .agg(avg(col("x") * col("x")).as("ams"))
      val exact = counts.agg(sum(col("c") * col("c")).as("exact_f2"),
        count(lit(1)).as("n_keys"))
      exact.crossJoin(est) // both single-row aggregates
        .select(col("n_keys"), col("exact_f2"),
          round(col("ams"), 6).as("ams_f2"),
          round(abs(col("ams") - col("exact_f2")) / col("exact_f2"), 6)
            .as("rel_err"))
    }),
    // op 141: histogram quantile sketch — per-type value quantiles plus
    // the __ALL__ row merged FROM THE SKETCHES (sum of bins, no corpus
    // rescan: the rollup property). Dyadic width (512/128 = 4.0) makes
    // the bin arithmetic exact in IEEE doubles on both engines.
    "sketch_quantiles" -> ((s, dir) => {
      histQuantileReport(Sketch.histSketch(events(s, dir),
        Seq("event_type"), "value", lo = 0.0, hi = 512.0, nBins = 128))
    }),
    // Streaming twin (op 142): the histogram is an Update-mode
    // streaming agg with construction-bounded state (≤ nBins counts
    // per type, no watermark — the same O(1)-state family as
    // streaming_hll/cms/kmv). Counts only grow, so a max-merge over
    // the Update sink reconstructs the batch bin table exactly and the
    // report shares sketch_quantiles' oracle.
    "streaming_quantiles" -> ((s, dir) => {
      val sunk = streamReplay(s, dir, "events", "sqh",
        mode = "update") { src =>
          Sketch.histSketch(graft.sources.Tables.normalizeEventTs(src),
            Seq("event_type"), "value", lo = 0.0, hi = 512.0, nBins = 128)
      }
      histQuantileReport(sunk.groupBy(col("event_type"), col("bin"))
        .agg(max(col("cnt")).as("cnt")))
    }),
    // Streaming twin (op 132): flatMapGroupsWithState maintains the
    // per-source bottom-k distinct-hash array (construction-bounded
    // state — k longs/group, the KMV analogue of op 123's register
    // rows); the hash is staged with the batch op's own expression.
    // Bottom-k of a union = bottom-k of the union of bottom-ks, and
    // Update-mode re-emissions only repeat historical sketch subsets,
    // so distinct + per-group bottom-k over the sink reconstructs the
    // batch sketch bit-for-bit (oracle shared with sketch_kmv).
    "streaming_kmv" -> ((s, dir) => {
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
    }),
    // KMV Jaccard (op 130): pairwise source similarity from the
    // sketches ALONE — the bottom-k of two sketches' union is a
    // uniform sample of A∪B, so the both-present fraction estimates
    // |A∩B|/|A∪B| directly (what HLL needs inclusion-exclusion and
    // 3× the error for). Exact Jaccard rides along.
    "sketch_kmv_jaccard" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      val sk = Sketch.kmvSketch(toks, Seq("source"), "tok", k = 64)
      val dt = toks.distinct()
      val sizes = dt.groupBy(col("source")).agg(count(lit(1)).as("d"))
      val inter = dt.select(col("source").as("ga"), col("tok"))
        .join(dt.select(col("source").as("gb"), col("tok")), Seq("tok"))
        .where(col("ga") < col("gb"))
        .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("n_inter"))
      Sketch.kmvJaccard(sk, "source", k = 64)
        .join(inter, Seq("ga", "gb"), "left")
        .join(sizes.select(col("source").as("ga"), col("d").as("da")), "ga")
        .join(sizes.select(col("source").as("gb"), col("d").as("db")), "gb")
        .select(col("ga").as("source_a"), col("gb").as("source_b"),
          col("n_union_kept"), col("n_both"), col("jaccard_est"),
          (round(coalesce(col("n_inter"), lit(0L)).cast("double") /
            (col("da") + col("db") - coalesce(col("n_inter"), lit(0L))), 6)
            + lit(0.0)).as("jaccard_exact"))
    }),
    // Streaming Count-Min (op 124): the stream maintains the fixed
    // depth×width counter table (Update-mode agg, construction-bounded
    // state); counters only grow, so max-merging the sink reconstructs
    // the batch table exactly and the heavy-hitter probe runs batch
    // over it (oracle shared with sketch_cms_topk).
    "streaming_cms" -> ((s, dir) => {
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
    }),
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
    "streaming_topk" -> ((s, dir) => {
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
    }),
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
    "streaming_sample" -> ((s, dir) => {
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
    }),
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
    "streaming_knn_graph" -> ((s, dir) => {
      val t0 = System.nanoTime()
      val ixPath =
        java.nio.file.Files.createTempDirectory("graft-sknn-ix").toString
      Similarity.knnIndexRelation(tbl(s, dir, "embeddings"), "vec_id",
          "embedding", EmbDim, planes = annPlanes(s))
        .write.mode("overwrite").parquet(ixPath)
      setupStats("streaming_knn_graph") = (System.nanoTime() - t0) / 1e9
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
    }),
    // Efraimidis-Spirakis weighted sample: 20 docs per lang,
    // P(doc) ∝ n_chars, deterministic md5 draw (op 120).
    "corpus_sample_weighted" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Corpus.weightedSampleN(d, "doc_id", col("lang"), col("n_chars"), n = 20)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("sample_key"))
    }),
    // C4 line filters (op 121) over a deterministic multi-line corpus
    // derived from documents (the raw text is single-line word soup, so
    // line rules on it would be vacuous — the PII-corpus convention):
    // 10-token lines; line i of doc d is a bullet when (d+i)%7=0, gets
    // "lorem ipsum" when %41=0, a brace when %43=0, and terminal
    // punctuation unless %3=0. The oracle replays construction AND
    // filter list-for-list (kept_digest is hash-gated).
    "corpus_c4_filters" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = Text.tokens(col("text"))
      val nLines = greatest(ceil(size(toks) / lit(10.0)).cast("int"), lit(1))
      val lines = transform(sequence(lit(0), nLines - 1), i => {
        val k = col("doc_id") + i
        val base = concat_ws(" ", slice(toks, i * 10 + 1, lit(10)))
        val withLorem = when(k % 41 === 0,
          concat(base, lit(" and lorem ipsum filler text here"))).otherwise(base)
        val withBrace = when(k % 43 === 0,
          concat(withLorem, lit(" {"))).otherwise(withLorem)
        val punct = when(k % 3 =!= 0,
          concat(withBrace, lit("."))).otherwise(withBrace)
        when(k % 7 === 0, concat(lit("- "), punct)).otherwise(punct)
      })
      Corpus.c4LineFilters(
          d.withColumn("text", array_join(lines, "\n")), "doc_id", "text",
          minWordsPerLine = 5, minKeptLines = 3)
        .select(col("id").as("doc_id"), col("n_lines"), col("n_kept_lines"),
          col("n_words_kept"), col("has_lorem"), col("has_brace"),
          col("kept_digest"), col("keep_doc"))
    }),
    // Canonical doc per duplicate cluster (op 217 — the keep-one
    // policy the op-81/203 reports motivate): within each connected
    // component, keep the LONGEST text, ties to the smallest id — a
    // deterministic total order, so "which copy survives dedup" is
    // engine- and partitioning-independent. One window over the
    // (tiny) component table joined to text lengths.
    "dedup_canonical" -> ((s, dir) => {
      val comp = Dedup.clusters(
        Dedup.minhashLshPairs(docCorpus(s, dir), "doc_id", "text"),
        "id_a", "id_b")
      val lens = docCorpus(s, dir)
        .select(col("doc_id").as("id"), length(col("text")).as("len"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("len").desc, col("id"))
      comp.join(lens, "id")
        .withColumn("rn", row_number().over(w))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .where(col("rn") === 1)
        .select(col("cluster_id"), col("id").as("canonical_id"),
          col("len").cast("long").as("canonical_len"), col("cluster_size"),
          (col("cluster_size") - 1).as("n_removed"))
    }),
    // kNN-graph hubness (op 218): the in-degree distribution of the
    // op-150 directed top-k graph — hubs (points that appear in
    // many neighbor lists) are the known failure mode of
    // high-dimensional kNN (Radovanović et al. 2010) and the thing
    // SemDeDup/prune thresholds must be robust to. Left join keeps
    // in-degree-0 nodes; two keyed integer aggs.
    "ann_hubness" -> ((s, dir) => {
      val g = Similarity.knnGraph(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", 3, EmbDim, planes = annPlanes(s))
      val deg = tbl(s, dir, "embeddings").select(col("vec_id"))
        .join(g.groupBy(col("neighbor_id")).agg(count(lit(1)).as("d")),
          col("vec_id") === col("neighbor_id"), "left")
        .select(coalesce(col("d"), lit(0L)).as("in_deg"))
      deg.groupBy(col("in_deg")).agg(count(lit(1)).as("n_nodes"))
    }),
    // Tokenizer fertility per language (op 219): BPE-ish tokens per
    // whitespace word and per 100 chars, per declared language — the
    // multilingual-budget planner's constant (fertility decides how
    // many DOCS a token budget buys per language). All-integer sums
    // → exact ratios; one map + one keyed agg, map-side combinable.
    "text_fertility" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("lang"), Text.tokenCount(col("text")).cast("long").as("ws"),
          Text.bpeTokenCount(col("text")).cast("long").as("bpe"),
          length(col("text")).cast("long").as("nc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"),
          round(sum(col("bpe")).cast("double") / sum(col("ws")), 6)
            .as("tokens_per_word"),
          round(sum(col("bpe")).cast("double") * 100.0 / sum(col("nc")), 6)
            .as("tokens_per_100chars"))),
    // Language-ID confusion matrix (op 223 — the op-53 classifier
    // EVALUATED against the declared label, the corpus-curation
    // QA report): count per (declared, predicted) cell. Pure
    // map + one keyed integer agg.
    "corpus_lang_confusion" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("lang"), Text.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))),
    // Centroid-distance outliers (op 220, the op-85/88 family's
    // per-point diagnostic): top-3 farthest vectors from their
    // label's centroid. Centroids are exact integer-sum ratios
    // (1e-6-quantized components, the op-176 convention); per-point
    // squared distances quantize each dim's term to 1e-12 longs so
    // the 64-dim sum is an exact integer — the (label, dist, id)
    // order is a total order on both engines. Broadcast centroid
    // join, one rank window.
    "embed_centroid_outliers" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .withColumn("xq", floor(col("x") * 1e6 + 0.5).cast("long"))
      val cen = e.groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("xq")).as("sq"))
      val d2 = e.join(broadcast(cen), Seq("label", "pos"))
        .withColumn("m", col("sq").cast("double") / col("n").cast("double"))
        .withColumn("diff", col("xq").cast("double") / 1e6 - col("m") / 1e6)
        .withColumn("t",
          floor(col("diff") * col("diff") * 1e12 + 0.5).cast("long"))
        .groupBy(col("label"), col("vec_id"))
        .agg(sum(col("t")).as("s2"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("s2").desc, col("vec_id"))
      d2.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("label"), col("rnk"), col("vec_id"),
          round(sqrt(col("s2").cast("double") / 1e12), 6).as("dist"))
    }),
    // Simplified silhouette per label (op 227 — cluster-quality QA
    // for the op-85/86/88 family): s = (b − a)/max(a, b) with a =
    // distance to the OWN label centroid and b = the nearest OTHER
    // centroid (centroid-based silhouette — the all-pairs original
    // is O(n²) and adds nothing at this granularity). Same exact
    // integer-ratio centroids and 1e-12-quantized per-dim terms as
    // op 220, so a/b/s are identical doubles; b's argmin runs on
    // INTEGER s2. Per-label mean on 1e-6-quantized s + misplaced
    // (s < 0) count. Broadcast centroid join, no shuffle beyond the
    // per-vector agg.
    "embed_silhouette" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .withColumn("xq", floor(col("x") * 1e6 + 0.5).cast("long"))
        // r14: e feeds the centroid agg AND the distance join — pin
        // the exploded components so the embeddings scan runs once.
        .localCheckpoint()
      val cen = e.groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("xq")).as("sq"))
        .select(col("label").as("clabel"), col("pos"),
          (col("sq").cast("double") / col("n").cast("double")).as("m"))
      val terms = e.join(broadcast(cen), Seq("pos"))
        .withColumn("diff", col("xq").cast("double") / 1e6 - col("m") / 1e6)
        .withColumn("t",
          floor(col("diff") * col("diff") * 1e12 + 0.5).cast("long"))
        .groupBy(col("vec_id"), col("label"), col("clabel"))
        .agg(sum(col("t")).as("s2"))
        // r14: terms feeds both the own-cluster and min-other legs —
        // pin the (vec, label)-sized distance table.
        .localCheckpoint()
      val own = terms.where(col("label") === col("clabel"))
        .select(col("vec_id"), col("label"),
          sqrt(col("s2").cast("double") / 1e12).as("a"))
      val oth = terms.where(col("label") =!= col("clabel"))
        .groupBy(col("vec_id"), col("label"))
        .agg(min(col("s2")).as("bmin"))
        .select(col("vec_id"), col("label"),
          sqrt(col("bmin").cast("double") / 1e12).as("b"))
      // broadcast hint: the pinned inputs carry no size estimate, so
      // without it the n-row a/b join planwise falls back to SMJ.
      own.join(broadcast(oth), Seq("vec_id", "label"))
        // a = b = 0 (a point sitting on two centroids) must drop,
        // not ANSI-abort on 0/0.
        .where(greatest(col("a"), col("b")) > 0)
        .withColumn("qs", floor((col("b") - col("a")) /
          greatest(col("a"), col("b")) * 1e6 + 0.5).cast("long"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          (floor(sum(col("qs")).cast("double") / count(lit(1)) + 0.5) / 1e6)
            .as("mean_silhouette"),
          sum(when(col("qs") < 0, 1L).otherwise(0L)).as("n_misplaced"))
    }),
    // Per-dimension variance spectrum + participation ratio (op 230,
    // the cheap intrinsic-dimension probe the op-198 power iteration
    // refines): population variance per dimension from 1e-6-quantized
    // integer sums, then effective_dim = (Σλ)²/Σλ² — 64 means the
    // space is isotropic, ≪64 says truncation (op 171) is safe.
    // Cross-dim sums are integer again (λ quantized to 1e-12, λ²
    // through DECIMAL(19,0)²), so the single-row report is
    // engine-exact. Two tiny hash aggs.
    // Pairwise-similarity distribution (op 277): the embedding-space
    // health check behind near-dup thresholds — cosine of each
    // DETERMINISTIC consecutive-id pair (id, id+1), quantized to 1e-6
    // longs, histogrammed into 0.1 bins with exact-integer per-bin
    // means. No sampling RNG (the pairing is the id order), no
    // all-pairs blowup: one equi-join on adjacent ids (sort-merge on
    // vec_id at scale — N pairs total, not N²), then a tiny keyed agg.
    // Cosines use the codegen'd native dot (bit-identical sequential
    // fold to DuckDB's list_dot_product, the ANN-family precedent).
    // Per-label L2-norm distribution (op 280): the embedding-store
    // calibration read — un-normalized stores skew cosine vs dot
    // ranking, and a label whose norms drift flags an encoder issue.
    // Norms quantize to 1e-6 longs (codegen'd native dot; identical
    // sequential fold in DuckDB), then exact integer/decimal sums
    // give mean and population std — one map + one keyed agg.
    "embed_norm_stats" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val e = tbl(s, dir, "embeddings")
        .select(col("label"),
          floor(Similarity.normNative(col("embedding").cast("array<double>"))
            * 1e6 + 0.5).cast("long").as("qn"))
      e.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("qn")).as("sq"),
          min(col("qn")).as("mn"), max(col("qn")).as("mx"),
          sum(dec(col("qn")) * dec(col("qn"))).as("sq2"))
        .withColumn("mean", col("sq").cast("double") / 1e6 / col("n"))
        .withColumn("v", col("sq2").cast("double") / 1e12 / col("n") -
          col("mean") * col("mean"))
        .select(col("label"), col("n"),
          round(col("mean"), 6).as("mean_norm"),
          (round(when(col("v") >= 0, sqrt(col("v"))), 6) + lit(0.0))
            .as("std_norm"),
          (col("mn").cast("double") / 1e6).as("min_norm"),
          (col("mx").cast("double") / 1e6).as("max_norm"))
    }),
    // Isotropy diagnostics (op 381; Mu & Viswanath 2018's
    // "all-but-the-top" premise): how far the embedding cloud leans
    // on a common direction. mean pairwise cosine over ALL n(n−1)
    // ordered pairs computed WITHOUT any pair join via the sum-vector
    // identity Σ_{i≠j} v̂ᵢ·v̂ⱼ = ‖Σv̂‖² − Σ‖v̂‖²: components
    // quantize to 1e-6 longs, per-dimension sums and their squares
    // are DECIMAL-exact, so the statistic is an exact rational. One
    // posexplode + one dim-keyed agg + two 1-row aggs — linear in
    // n·dim at any corpus size (the 100 TB shape: no pair
    // materialization ever).
    "embed_isotropy" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val e = tbl(s, dir, "embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
        .withColumn("nm", Similarity.normNative(col("v")))
        .where(col("nm") > 0)
      val comps = e.select(col("nm"), posexplode(col("v")).as(Seq("pos", "c")))
        .select(col("pos"),
          floor(col("c") / col("nm") * 1e6 + 0.5).cast("long").as("qc"))
      val byPos = comps.groupBy(col("pos"))
        .agg(sum(col("qc")).as("sq"),
          sum(dec(col("qc")) * dec(col("qc"))).as("sq2"))
      val tot = byPos.agg(count(lit(1)).as("dim"),
        sum(dec(col("sq")) * dec(col("sq"))).as("s2"),
        sum(col("sq2")).as("selfsq"))
      val nRel = e.agg(count(lit(1)).as("n"))
      val nD = col("n").cast("double")
      tot.crossJoin(broadcast(nRel))
        .select(col("n"), col("dim"),
          round((col("s2").cast("double") - col("selfsq").cast("double"))
            / 1e12 / (nD * (nD - 1.0)), 6).as("mean_pairwise_cosine"),
          round(sqrt(col("s2").cast("double")) / 1e6 / nD, 6)
            .as("mean_vector_norm"))
    }),
    "embed_pair_sim" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .where(Similarity.dotNative(col("v"), col("v")) > 0)
      val a = e.select(col("vec_id").as("id"), col("v").as("va"))
      val b = e.select((col("vec_id") - 1).as("id"), col("v").as("vb"))
      val cosQ = floor(Similarity.dotNative(col("va"), col("vb")) /
        (Similarity.normNative(col("va")) * Similarity.normNative(col("vb")))
        * 1e6 + 0.5).cast("long")
      a.join(b, "id")
        .select(cosQ.as("q"))
        .withColumn("bin", floor(col("q").cast("double") / 1e5).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("q")).cast("double") / 1e6 / count(lit(1)), 6)
            .as("avg_cos"))
    }),
    "embed_dim_variance" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "x")))
        .withColumn("xq", floor(col("x") * 1e6 + 0.5).cast("long"))
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val lam = e.groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("xq")).as("sq"),
          sum(dec(col("xq")) * dec(col("xq"))).as("sq2"))
        .withColumn("v", col("sq2").cast("double") / 1e12 / col("n") -
          (col("sq").cast("double") / 1e6 / col("n")) *
          (col("sq").cast("double") / 1e6 / col("n")))
        .withColumn("lq", floor(col("v") * 1e12 + 0.5).cast("long"))
      lam.agg(count(lit(1)).as("n_dims"),
          (sum(col("lq")).cast("double") / 1e12).as("tv"),
          (max(col("lq")).cast("double") / 1e12).as("mv"),
          (sum(dec(col("lq")) * dec(col("lq"))).cast("double") / 1e24)
            .as("s2"))
        .select(col("n_dims"),
          round(col("tv"), 6).as("total_var"),
          round(col("mv"), 6).as("max_var"),
          round(col("tv") * col("tv") / col("s2"), 6).as("effective_dim"))
    }),
    // Bigram conditional entropy per source (op 238 — the sequence-
    // predictability health check completing ops 206/207: low
    // H(w₂|w₁) = templated/repetitive text, high = diverse): H =
    // −Σ c(ab)·ln(c(ab)/c(a·))/N over frequency-preserving bigrams,
    // each term an ln of an exact integer ratio quantized to 1e-9
    // longs → integer sums, engine-exact; perplexity = e^H. One
    // explode + two keyed aggs + a first-token join.
    "corpus_bigram_entropy" -> ((s, dir) => {
      val bg = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.ngrams(col("text"), 2)).as("bg"))
        .groupBy(col("source"), col("bg")).agg(count(lit(1)).as("cnt"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        // r14: bg feeds the conditional totals AND the entropy join —
        // pin the bigram-vocab counts so the ngram explode runs once.
        .localCheckpoint()
      val ca = bg.groupBy(col("source"), col("w1"))
        .agg(sum(col("cnt")).as("ca"))
      bg.join(ca, Seq("source", "w1"))
        .withColumn("q", floor(col("cnt").cast("double") *
          log(col("cnt").cast("double") / col("ca").cast("double")) *
          1e9 + 0.5).cast("long"))
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_bigrams"), sum(col("q")).as("sq"))
        .select(col("source"), col("n_bigrams"),
          round((-(col("sq").cast("double") / 1e9)) /
            col("n_bigrams").cast("double"), 6).as("h_cond"),
          round(exp((-(col("sq").cast("double") / 1e9)) /
            col("n_bigrams").cast("double")), 6).as("perplexity"))
    }),
    // Cross-doc boilerplate shingles (op 221 — template detection,
    // the cross-document sibling of op 76's within-doc repetition):
    // a 5-gram appearing in ≥ 5 DISTINCT docs is boilerplate; each
    // doc reports what fraction of its distinct shingles is
    // boilerplate (Dolma-style duplicate-n-gram fraction). Exact
    // integer ratios; explode + two keyed aggs + one join back —
    // the shingle key is the shuffle key, no all-pairs anywhere.
    "corpus_boilerplate" -> ((s, dir) => {
      val sh = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(Dedup.shingles(col("text"), 5)).as("sh"))
      val boiler = sh.groupBy(col("sh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") >= 5)
        .select(col("sh"))
      sh.join(boiler, Seq("sh"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
        .join(sh.groupBy(col("doc_id"), col("source"))
          .agg(count(lit(1)).as("n_shingles")),
          Seq("doc_id"), "right")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_shingles")).as("n_shingles"),
          sum(coalesce(col("n_boiler"), lit(0L))).as("n_boiler"),
          round(sum(coalesce(col("n_boiler"), lit(0L))).cast("double") /
            sum(col("n_shingles")), 6).as("boiler_frac"))
    })
  )

  /** Shared tail of the HLL queries (ops 118/123): per-source + merged
    * __ALL__ estimates from a register table, exact distincts joined
    * in for the error story.
    */
  private def hllReport(s: SparkSession, dir: String,
                        regs: DataFrame): DataFrame = {
    // r14: regs feeds both the per-source estimate and the __ALL__
    // merge — pin the ≤ m·|sources|-row register table so the token
    // explode + register agg upstream runs once, not twice.
    val regsP = regs.localCheckpoint()
    val perSource = Sketch.hllEstimate(regsP, Seq("source"), m = 256)
    val global = Sketch.hllEstimate(
      regsP.groupBy(col("reg")).agg(max(col("max_rank")).as("max_rank"))
        .withColumn("source", lit("__ALL__")),
      Seq("source"), m = 256)
    // r14: ONE tokenize pass for both exact rows — the distinct
    // (source, tok) pairs are the shared base (per-source distinct =
    // pair count per source; global distinct = distinct tok over the
    // pairs), replacing two full token explodes of the corpus.
    val pairs = tbl(s, dir, "documents")
      .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      .distinct().localCheckpoint()
    val exact = pairs.groupBy(col("source"))
      .agg(count(lit(1)).as("exact_distinct"))
      .unionByName(pairs.select(col("tok")).distinct()
        .agg(count(lit(1)).as("exact_distinct"))
        .withColumn("source", lit("__ALL__")))
    perSource.unionByName(global).join(exact, "source")
  }

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

  /** Shared tail of the quantile-sketch queries (ops 141/142): the
    * per-type + `__ALL__`-merged quantile report over a
    * (event_type, bin, cnt) histogram table — the merge sums BINS,
    * never rescanning the corpus.
    */
  private def histQuantileReport(sk0: DataFrame): DataFrame = {
    // r14: the bin table feeds both the __ALL__ merge and the union —
    // pin the ≤ |types|·nBins-row relation so its producer runs once.
    val sk = sk0.localCheckpoint()
    val all = sk.groupBy(col("bin")).agg(sum(col("cnt")).as("cnt"))
      .withColumn("event_type", lit("__ALL__"))
    val merged = sk.select(col("event_type"), col("bin"), col("cnt"))
      .unionByName(all.select(col("event_type"), col("bin"), col("cnt")))
    Sketch.histQuantiles(merged, Seq("event_type"),
        Seq(0.25, 0.5, 0.75, 0.95), lo = 0.0, hi = 512.0, nBins = 128)
      .select(col("event_type"), col("q"), col("est"), col("n"))
  }

  /** Shared tail of the KMV queries (ops 129/132): per-source + merged
    * __ALL__ estimates from a (source, h) sketch table, exact distincts
    * joined in for the error story. The __ALL__ row is the bottom-k of
    * the union of SKETCHES (KBs of input) — never a corpus rescan.
    */
  private def kmvReport(s: SparkSession, dir: String,
                        sk0: DataFrame): DataFrame = {
    // r14: both the sketch table (merged + union legs) and the exact
    // distinct-pair base (per-source + __ALL__ legs) feed two
    // consumers each — pin them so the sketch build and the tokenize
    // pass run once, not twice.
    val sk = sk0.localCheckpoint()
    val merged = sk.select(lit("__ALL__").as("source"), col("h")).distinct()
      .orderBy(col("h")).limit(64)
    val dt = tbl(s, dir, "documents")
      .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      .distinct().localCheckpoint()
    val exact = dt.groupBy(col("source"))
      .agg(count(lit(1)).as("exact_distinct"))
      .unionByName(
        dt.select(col("tok")).distinct()
          .agg(count(lit(1)).as("exact_distinct"))
          .select(lit("__ALL__").as("source"), col("exact_distinct")))
    Sketch.kmvEstimate(sk.select(col("source"), col("h")).unionByName(merged),
        Seq("source"), k = 64)
      .join(exact, "source")
      .select(col("source"), col("n_kept"), col("est_distinct"),
        col("exact_distinct"))
  }

  /** Deterministic PII-bearing contact cards derived from customer —
    * the synthetic corpus for the PII ops (documents.text is word soup
    * with no PII shapes, so matches would be vacuous). Identical
    * construction in the oracle CTE; rows where c_custkey ≡ 0 (mod 3),
    * 1 (mod 2) and ≢ 0 (mod 5) carry no PII at all (negative class).
    */
  private def contactCards(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(col("c_custkey"),
      concat(
        lit("Acct "), col("c_name"),
        when(col("c_custkey") % 3 =!= 0,
          concat(lit(" <user"), col("c_custkey").cast("string"),
            lit("@example.com>"))).otherwise(lit("")),
        when(col("c_custkey") % 2 === 0,
          concat(lit(" tel 555-"),
            lpad((col("c_custkey") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("c_custkey") % 5 === 0,
          concat(lit(" host 10."), col("c_nationkey").cast("string"),
            lit(".0."), (col("c_custkey") % 256).cast("string")))
          .otherwise(lit("")),
        lit(" segment "), lower(col("c_mktsegment"))).as("text"))

  /** contact-card CTE shared by the PII oracles (mirrors contactCards).
    * This string is interpolated into oracle SQL that itself calls
    * .stripMargin, so NO line here may start with `|` after the first
    * strip (the `||` concat operators stay at line ends).
    */
  private val CONTACT_CTE =
    """contact AS (
      |  SELECT c_custkey,
      |    'Acct ' || c_name ||
      |    CASE WHEN c_custkey % 3 <> 0
      |         THEN ' <user' || c_custkey::VARCHAR || '@example.com>'
      |         ELSE '' END ||
      |    CASE WHEN c_custkey % 2 = 0
      |         THEN ' tel 555-' || lpad((c_custkey % 10000)::VARCHAR, 4, '0')
      |         ELSE '' END ||
      |    CASE WHEN c_custkey % 5 = 0
      |         THEN ' host 10.' || c_nationkey::VARCHAR || '.0.' || (c_custkey % 256)::VARCHAR
      |         ELSE '' END ||
      |    ' segment ' || lower(c_mktsegment) AS text
      |  FROM customer
      |)""".stripMargin

  private def pipelineOracles: Map[String, String] = {
    // DuckDB H = first 8 md5 hex chars as integer (matches Spark's
    // conv(substr(md5,1,8),16,10)) built from nibbles via strpos.
    val hexpr = (1 to 8).map(i =>
      s"(strpos('0123456789abcdef', substr(md5(_w), $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
    ).mkString("(", " + ", ")")
    // First/second 32-bit words of md5(s) as integers (nibble-built) —
    // the affine minhash family h_i = (a + i*b) % 2^32 (Dedup.scala).
    def md5Word(off: Int) = (1 to 8).map(j =>
      s"(strpos('0123456789abcdef', substr(h, ${off + j}, 1)) - 1) * ${math.pow(16, 8 - j).toLong}"
    ).mkString("(", " + ", ")")
    // 32-bit word of md5(<c>) starting at 1-based hex offset
    // <startExpr> (any SQL expression) — the dynamic-slice variant of
    // md5Word for the k-slice Bloom positions.
    def md5IntAt(c: String, startExpr: String) = (0 to 7).map(j =>
      s"(strpos('0123456789abcdef', substr(md5($c), ($startExpr) + $j, 1)) - 1) * ${math.pow(16, 7 - j).toLong}"
    ).mkString("(", " + ", ")")
    // Same 8-hex-digit slice over a column that is ALREADY a digest
    // (md5IntAt would double-hash it).
    def hexIntAt(c: String, startExpr: String) = (0 to 7).map(j =>
      s"(strpos('0123456789abcdef', substr($c, ($startExpr) + $j, 1)) - 1) * ${math.pow(16, 7 - j).toLong}"
    ).mkString("(", " + ", ")")
    val sigMins = (0 until 8).map(i =>
      s"min((a + $i * b) % 4294967296) AS sig_$i").mkString(", ")
    // LSH hyperplanes as literal DOUBLE lists (same round-trip literals
    // Similarity.lshBucket inlines into the Spark plan).
    def planeLit(p: Int) = (0 until EmbDim)
      .map(d => java.lang.Double.toString(Similarity.planeComponent(p, d)))
      .mkString("[", ", ", "]")
    def lshBucketSqlAt(v: String, offset: Int, planes: Int) = (0 until planes).map(j =>
      s"(CASE WHEN list_dot_product($v, ${planeLit(offset + j)}) >= 0 THEN ${1 << j} ELSE 0 END)"
    ).mkString(" + ")
    def lshBucketSql(v: String) = lshBucketSqlAt(v, 0, 4)
    // Shared kNN-graph edge CTEs (ops 150/317/341): 2-table sign-LSH
    // buckets, hot-bucket cap, per-query top-3 by cosine → directed
    // edge list g(src, dst). Identical to the Spark Similarity.knnGraph
    // constants the driver validates at.
    val KNN_EDGE_CTES =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |t0 AS (
        |  SELECT vec_id, v, 0 AS tbl, ${lshBucketSqlAt("v", 0, 4)} AS bucket FROM e
        |  UNION ALL
        |  SELECT vec_id, v, 4 AS tbl, ${lshBucketSqlAt("v", 4, 4)} AS bucket FROM e
        |), t AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY tbl, bucket) AS bc FROM t0
        |  ) WHERE bc <= 10000
        |), p AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    max(list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) AS cosine
        |  FROM t a JOIN t b ON a.tbl = b.tbl AND a.bucket = b.bucket
        |  WHERE b.vec_id <> a.vec_id
        |  GROUP BY 1, 2
        |), rk AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM p
        |), g AS (
        |  SELECT query_id AS src, neighbor_id AS dst FROM rk WHERE rnk <= 3
        |)""".stripMargin
    // Per-key resample LCG seed as a literal: first md5 word of the key
    // (Resample.keySeed with a constant key, driver-computed).
    def keySeedLit(key: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16).toString
    }
    // First md5 word of hex column `c` as an integer (MarketSim.u).
    def w8(c: String) = (1 to 8).map(j =>
      s"(strpos('0123456789abcdef', substr($c, $j, 1)) - 1) * ${math.pow(16, 8 - j).toLong}"
    ).mkString("(", " + ", ")")
    // Weighted exchange draw (MarketSim.weightedExchange): inverse-CDF
    // over the RAW scanLeft cumulative doubles — Double.toString round-
    // trips them so both engines run the identical IEEE compares.
    def exCaseSql(uCol: String): String = {
      val whens = MarketSim.Exchanges.init.zip(MarketSim.ExchangeCum.init)
        .map { case (e, c) =>
          s"WHEN $uCol < ${java.lang.Double.toString(c)} THEN $e"
        }.mkString(" ")
      s"(CASE $whens ELSE ${MarketSim.Exchanges.last} END)"
    }
    // DuckDB replay of MarketSim.simulateQuotes(tickers, days,
    // ticksPerDay, seed=42): md5-derived uniforms, per-(ticker, day)
    // random-walk mid via window cumsum, identical double-op order,
    // full reference-superset column list (sim/quotes.py:72-91).
    def quotesCteFor(tickers: Seq[String], days: Int, tpd: Int): String = {
      val perTicker = days.toLong * tpd
      val n = tickers.size * perTicker
      val tickerList = tickers.map(t => s"'$t'").mkString("[", ", ", "]")
      val tags = Seq("jit", "walk", "spr", "bs", "as", "ex", "bex",
        "qc", "qcv", "qi", "qiv", "sip", "tape", "trf")
      val hCols = tags.map(t => s"md5('42_' || id || '_$t') AS h_$t")
        .mkString(",\n        |    ")
      val uCols = tags.map(t => s"${w8(s"h_$t")} / 4294967296.0 AS u_$t")
        .mkString(",\n        |    ")
      s"""base AS (
        |  SELECT t.range AS id, CAST(t.range // $perTicker AS INT) AS tix,
        |    (t.range % $perTicker) // $tpd AS day, t.range % $tpd AS k
        |  FROM range(0, $n) t
        |), hq AS (
        |  SELECT id, tix, day, k,
        |    $hCols
        |  FROM base
        |), uq AS (
        |  SELECT id, tix, day, k,
        |    $uCols
        |  FROM hq
        |), q0 AS (
        |  SELECT tix, day, k, u_qc, u_qcv, u_qi, u_qiv, u_sip, u_tape, u_trf,
        |    $tickerList[tix + 1] AS ticker,
        |    1712928600000000 + day * 86400000000
        |      + CAST(floor((k + u_jit) * 23400000000 / $tpd) AS BIGINT) AS ts_us,
        |    round(100.0 + sum((u_walk - 0.5) * 0.02) OVER w
        |          - (0.01 + u_spr * 0.04) / 2, 4) AS bid,
        |    round(100.0 + sum((u_walk - 0.5) * 0.02) OVER w
        |          + (0.01 + u_spr * 0.04) / 2, 4) AS ask,
        |    CAST(floor(u_bs * 90 + 10) AS BIGINT) AS bid_size,
        |    CAST(floor(u_as * 90 + 10) AS BIGINT) AS ask_size,
        |    CAST(${exCaseSql("u_ex")} AS BIGINT) AS exchange,
        |    CAST(${exCaseSql("u_bex")} AS BIGINT) AS bid_exchange
        |  FROM uq
        |  WINDOW w AS (PARTITION BY tix, day ORDER BY k
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), quotes AS (
        |  SELECT ticker, ts_us, bid, ask, bid_size, ask_size, exchange, day,
        |    exchange AS ask_exchange, bid_exchange,
        |    ask AS ask_price, bid AS bid_price,
        |    CASE WHEN u_qc < 0.8 THEN '19'
        |         ELSE CAST(CAST(1 + floor(u_qcv * 19) AS BIGINT) AS VARCHAR) END AS conditions,
        |    CASE WHEN u_qi < 0.9 THEN ''
        |         ELSE ['4', '12', '13'][CAST(floor(u_qiv * 3) AS INT) + 1] END AS indicators,
        |    ts_us * 1000 AS participant_timestamp,
        |    1000 + k AS sequence_number,
        |    ts_us * 1000 + 5000 + CAST(floor(u_sip * 45000) AS BIGINT) AS sip_timestamp,
        |    CAST(CASE WHEN exchange IN (10, 11, 1) THEN 1
        |              WHEN exchange IN (12, 2) THEN 3
        |              WHEN exchange IN (201, 202) THEN CAST(floor(u_tape * 3) AS INT) + 1
        |              ELSE 2 END AS BIGINT) AS tape,
        |    ts_us * 1000 + 10000 + CAST(floor(u_trf * 90000) AS BIGINT) AS trf_timestamp
        |  FROM q0
        |)""".stripMargin
    }
    val QUOTES_CTE = quotesCteFor(Seq("SIM"), 2, 5000)
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, sig_${2 * b}::VARCHAR || '|' || sig_${2 * b + 1}::VARCHAR AS bucket FROM sig"
    ).mkString(" UNION ALL ")
    val stopCond = Text.Stopwords.map(w => s"x = '$w'").mkString(" OR ")
    val langScores = Text.LangMarkers.map { case (l, ws) =>
      s"len(list_filter(toks, x -> ${ws.map(w => s"x = '$w'").mkString(" OR ")})) AS s_$l"
    }.mkString(", ")
    // Shared between the pairs oracle and the clusters oracle's
    // recursive closure (nested WITH — DuckDB scopes it to the CTE).
    // ann_topk_ivf and its labeled hard-negative twin share this one
    // CTE chain (the SQL mirror of ivfTopKImpl's labelCol threading):
    // `labeled` adds the label columns through cells/probes, the
    // same-label exclusion on the candidate join, and the label output.
    def ivfOracle(labeled: Boolean): String = {
      def l(s: String) = if (labeled) s else ""
      s"""WITH c AS (SELECT vec_id AS neighbor_id${l(", label AS cl")}, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
        |cent AS (
        |  SELECT neighbor_id AS cell_id, cv AS centv FROM c ORDER BY neighbor_id LIMIT 16
        |), ccells AS (
        |  SELECT neighbor_id,${l(" cl,")} cv, cell_id FROM (
        |    SELECT c.neighbor_id,${l(" c.cl,")} c.cv, cent.cell_id,
        |      row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
        |        list_dot_product(c.cv, cent.centv) /
        |          (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(cent.centv, cent.centv))) DESC,
        |        cent.cell_id) AS cr
        |    FROM c CROSS JOIN cent
        |  ) WHERE cr <= 1
        |), q AS (SELECT vec_id AS query_id,${l(" label AS ql,")} embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
        |probes AS (
        |  SELECT query_id,${l(" ql,")} qv, cell_id FROM (
        |    SELECT q.query_id,${l(" q.ql,")} q.qv, cent.cell_id,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY
        |        list_dot_product(q.qv, cent.centv) /
        |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.centv, cent.centv))) DESC,
        |        cent.cell_id) AS qr
        |    FROM q CROSS JOIN cent
        |  ) WHERE qr <= 4
        |), s AS (
        |  SELECT query_id, neighbor_id,${l(" cl,")}
        |    list_dot_product(qv, cv) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
        |  FROM ccells JOIN probes USING (cell_id)${l("\n  WHERE cl IS DISTINCT FROM ql")}
        |), r AS (
        |  SELECT query_id, neighbor_id,${l(" cl,")} cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM s
        |)
        |SELECT query_id, rnk, neighbor_id,${l(" cl::BIGINT AS neighbor_label,")} round(cosine, 6) AS cosine
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
    }

    // Shared CTE chain ending in bands(doc_id, band, bucket) — the
    // front half of both the all-pairs and the incremental oracles.
    val minhashBandsCte =
      s"""$TOKS_CTE, sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks)-2, 1) + 1),
        |    i -> array_to_string(toks[i:i+2], ' ')))) AS s
        |  FROM t
        |), ab AS (
        |  SELECT doc_id, ${md5Word(0)} AS a, ${md5Word(8)} AS b
        |  FROM (SELECT doc_id, md5(s) AS h FROM sh)
        |), sig AS (SELECT doc_id, $sigMins FROM ab GROUP BY doc_id),
        |bands AS ($bandSelects)""".stripMargin
    val minhashPairsSql =
      s"""$minhashBandsCte
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin
    // Shared by the batch op (dedup_incremental) and its stream-static
    // twin (streaming_dedup_incremental): same index, same new batch,
    // same verdicts.
    val minhashIncrementalSql =
      s"""$minhashBandsCte,
        |idx AS (
        |  SELECT band, bucket, min(doc_id) AS min_id, count(*) AS c
        |  FROM bands WHERE doc_id < 1000000 GROUP BY band, bucket
        |),
        |q AS (SELECT doc_id, band, bucket FROM bands WHERE doc_id >= 1000000)
        |SELECT q.doc_id, min(idx.min_id) AS dup_of
        |FROM q JOIN idx ON q.band = idx.band AND q.bucket = idx.bucket
        |WHERE idx.c <= 10000
        |GROUP BY q.doc_id ORDER BY q.doc_id""".stripMargin
    val langBest = "greatest(" + Text.LangMarkers.map("s_" + _._1).mkString(", ") + ")"
    val langCase = Text.LangMarkers.map { case (l, _) =>
      s"WHEN s_$l > 0 AND s_$l = $langBest THEN '$l'"
    }.mkString(" ")

    Map(
      "text_token_count" ->
        s"""SELECT doc_id,
          |  len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
          |  len(regexp_extract_all(text, '${Text.BpePattern}')) AS bpe_tokens
          |FROM documents""".stripMargin,
      "text_quality" ->
        s"""WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
          |SELECT doc_id, round(
          |  0.4 * least(length(text) / 200.0, 1.0) +
          |  0.4 * (len(list_filter(toks, x -> $stopCond)) / greatest(len(toks), 1)) +
          |  0.2 * (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / greatest(len(toks), 1), 1.0)), 6) AS quality
          |FROM t""".stripMargin,
      // op 276: same character-class counts, same score algebra.
      "text_readability" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    len(regexp_extract_all(text, '[A-Za-z]+')) AS w,
          |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
          |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
          |  FROM documents
          |)
          |SELECT doc_id, CAST(w AS BIGINT) AS n_words,
          |  CAST(s AS BIGINT) AS n_sents, CAST(syl AS BIGINT) AS n_sylls,
          |  round(206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
          |        - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)), 4) + 0.0
          |    AS flesch,
          |  round(0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
          |        + 11.8 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)) - 15.59, 4)
          |    + 0.0 AS fk_grade
          |FROM t WHERE w > 0""".stripMargin,
      // op 278: same exact integer token counts.
      "text_ttr" ->
        """WITH tok AS (
          |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
          |  FROM documents
          |), g AS (
          |  SELECT source, t, count(*) AS c FROM tok WHERE t <> ''
          |  GROUP BY source, t
          |), a AS (
          |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
          |    count(*) AS n_types, CAST(sum(c * (c - 1)) AS BIGINT) AS coinc
          |  FROM g GROUP BY source
          |)
          |SELECT source, n_tokens, n_types,
          |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
          |  round(CAST(coinc AS DOUBLE) /
          |        (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0)), 6)
          |    AS simpson_d
          |FROM a ORDER BY source""".stripMargin,
      // op 279: same rank closed form on exact integer lengths.
      "corpus_gini" ->
        """WITH r AS (
          |  SELECT source, n_chars,
          |    row_number() OVER (PARTITION BY source
          |                       ORDER BY n_chars, doc_id) AS r
          |  FROM documents
          |), a AS (
          |  SELECT source, count(*) AS n_docs,
          |    CAST(sum(n_chars) AS BIGINT) AS sx,
          |    CAST(sum(r * n_chars) AS BIGINT) AS srx
          |  FROM r GROUP BY source
          |)
          |SELECT source, n_docs,
          |  round((2.0 * CAST(srx AS DOUBLE)
          |         - CAST(n_docs + 1 AS DOUBLE) * CAST(sx AS DOUBLE)) /
          |        (CAST(n_docs AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
          |FROM a ORDER BY source""".stripMargin,
      // op 206: same per-char integer counts, same 1e-9-quantized
      // c·ln c terms, same floor-q6 entropy.
      "text_char_entropy" ->
        """WITH c AS (
          |  SELECT doc_id, unnest(string_split(text, '')) AS ch
          |  FROM documents
          |), g AS (
          |  SELECT doc_id, ch, count(*) AS c FROM c WHERE ch <> ''
          |  GROUP BY 1, 2
          |), q AS (
          |  SELECT doc_id, c,
          |    CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS tq
          |  FROM g
          |), a AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_total,
          |    count(*) AS distinct_chars, CAST(sum(tq) AS BIGINT) AS stq
          |  FROM q GROUP BY doc_id
          |)
          |SELECT doc_id, n_chars_total, distinct_chars,
          |  floor((ln(CAST(n_chars_total AS DOUBLE))
          |         - CAST(stq AS DOUBLE) / 1e9 / n_chars_total)
          |        * 1e6 + 0.5) / 1e6 AS entropy
          |FROM a""".stripMargin,
      // op 207: identical integer counts and the identically
      // parenthesized PMI product; ordered by the ROUNDED pmi so the
      // limit-20 selection matches the Spark query's total order.
      "text_pmi_bigrams" ->
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          |  FROM documents
          |), bi0 AS (
          |  SELECT unnest(list_transform(range(1, len(toks)),
          |    i -> struct_pack(x := toks[i], y := toks[i + 1]))) AS p
          |  FROM t
          |), bi AS (
          |  SELECT p.x AS x, p.y AS y, count(*) AS b
          |  FROM bi0 GROUP BY 1, 2
          |), uni AS (
          |  SELECT unnest(toks) AS w FROM t
          |), uc AS (SELECT w, count(*) AS u FROM uni GROUP BY w),
          |nb AS (SELECT CAST(sum(b) AS BIGINT) AS n_b FROM bi),
          |nu AS (SELECT CAST(sum(u) AS BIGINT) AS n_u FROM uc),
          |j AS (
          |  SELECT bi.x, bi.y, bi.b, ux.u AS ux, uy.u AS uy, n_b, n_u
          |  FROM bi JOIN uc ux ON bi.x = ux.w
          |          JOIN uc uy ON bi.y = uy.w
          |  CROSS JOIN nb CROSS JOIN nu
          |  WHERE bi.b >= 5
          |), sc AS (
          |  SELECT x || ' ' || y AS bigram, b AS b_count,
          |    round(ln((CAST(b AS DOUBLE) / n_b)
          |      * (CAST(n_u AS DOUBLE) / ux)
          |      * (CAST(n_u AS DOUBLE) / uy)), 6) + 0.0 AS pmi
          |  FROM j
          |)
          |SELECT bigram, b_count, pmi FROM sc
          |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin,
      // op 326: the op-317 integer-PageRank replay on the word graph —
      // same // floor division, 3 unrolled MATERIALIZED rounds.
      "text_textrank" -> {
        val iters = (1 to 3).map { i =>
          s"""i$i AS MATERIALIZED (
             |  SELECT dst, sum((rq * wt) // st) AS inflow
             |  FROM es JOIN r${i - 1} ON es.src = r${i - 1}.w
             |  GROUP BY dst
             |), r$i AS MATERIALIZED (
             |  SELECT w, 150000000 // nw
             |    + (17 * coalesce(inflow, 0)) // 20 AS rq
             |  FROM nodes CROSS JOIN nn LEFT JOIN i$i ON w = dst
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH t AS (
          |  SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
          |  FROM documents
          |), bi0 AS (
          |  SELECT unnest(list_transform(range(1, len(toks)),
          |    i -> struct_pack(x := toks[i], y := toks[i + 1]))) AS p
          |  FROM t
          |), bip AS (
          |  SELECT p.x AS x, p.y AS y, count(*) AS c
          |  FROM bi0 WHERE p.x <> p.y GROUP BY 1, 2
          |), e AS MATERIALIZED (
          |  SELECT src, dst, CAST(sum(c) AS BIGINT) AS wt FROM (
          |    SELECT x AS src, y AS dst, c FROM bip
          |    UNION ALL
          |    SELECT y AS src, x AS dst, c FROM bip
          |  ) GROUP BY 1, 2
          |), st AS MATERIALIZED (
          |  SELECT src, CAST(sum(wt) AS BIGINT) AS st FROM e GROUP BY 1
          |), es AS MATERIALIZED (
          |  SELECT e.src, e.dst, e.wt, st.st FROM e JOIN st USING (src)
          |), nodes AS MATERIALIZED (SELECT src AS w FROM st),
          |nn AS (SELECT count(*) AS nw FROM nodes),
          |r0 AS MATERIALIZED (
          |  SELECT w, 1000000000 // nw AS rq FROM nodes CROSS JOIN nn
          |), $iters
          |SELECT w AS word, CAST(rq AS DOUBLE) / 1e9 AS textrank
          |FROM r3 ORDER BY rq DESC, w LIMIT 20""".stripMargin
      },
      // op 189: same quality kernel, integer binning on the quantized
      // score, floor-mean; BIGINT casts pin the hugeint sums.
      "corpus_curriculum" ->
        s"""WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
          |q AS (
          |  SELECT doc_id, len(toks) AS ntok,
          |    CAST(floor(round(
          |      0.4 * least(length(text) / 200.0, 1.0) +
          |      0.4 * (len(list_filter(toks, x -> $stopCond)) / greatest(len(toks), 1)) +
          |      0.2 * (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / greatest(len(toks), 1), 1.0)), 6) * 1e6 + 0.5) AS BIGINT) AS qq
          |  FROM t
          |), b AS (
          |  SELECT least(CAST(floor(qq / 100000) AS BIGINT), 9) AS bin,
          |    qq, ntok FROM q
          |)
          |SELECT 9 - bin AS phase, bin, count(*) AS n_docs,
          |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
          |  floor(CAST(sum(qq) AS DOUBLE) / count(*) + 0.5) / 1e6 AS mean_quality
          |FROM b GROUP BY bin ORDER BY phase""".stripMargin,
      "text_lang_id" ->
        s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
          |sc AS (SELECT doc_id, $langScores FROM t)
          |SELECT doc_id, CASE $langCase ELSE 'unknown' END AS lang_pred FROM sc""".stripMargin,
      "text_fingerprint" ->
        """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
          |SELECT doc_id, list_min(list_transform(range(1, greatest(len(toks)-4, 1) + 1),
          |  i -> md5(array_to_string(toks[i:i+4], ' ')))) AS fingerprint
          |FROM t""".stripMargin,
      "text_normalize" ->
        """WITH m AS (
          |  SELECT doc_id, regexp_replace(text, ' ', ' ' || chr(1) || '  ', 'g') AS messy
          |  FROM documents
          |), c AS (
          |  SELECT doc_id, messy,
          |    trim(regexp_replace(regexp_replace(messy, '[\x00-\x1f\x7f]', ' ', 'g'),
          |                        '\s+', ' ', 'g')) AS clean
          |  FROM m
          |)
          |SELECT doc_id, length(messy)::BIGINT AS raw_len,
          |  length(clean)::BIGINT AS clean_len, md5(clean) AS clean_digest
          |FROM c""".stripMargin,
      "corpus_gopher" ->
        s"""WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
          |m AS (
          |  SELECT doc_id, len(toks) AS n,
          |    round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks), 6) AS mean_word_len,
          |    round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(toks), 6) AS alpha_frac,
          |    len(list_filter(toks, x -> ${Corpus.GopherStopwords.map(w => s"x = '$w'").mkString(" OR ")}))::BIGINT AS n_stop,
          |    round(((length(text) - length(replace(text, '#', ''))) +
          |           (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE / len(toks), 6) AS symbol_ratio
          |  FROM t
          |)
          |SELECT doc_id, n::BIGINT AS n_words, mean_word_len, alpha_frac, n_stop, symbol_ratio,
          |  (n BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
          |    AND alpha_frac >= 0.8 AND n_stop >= 2 AND symbol_ratio <= 0.1 AS keep
          |FROM m ORDER BY doc_id""".stripMargin,
      // op 369: the three gates' own CTEs, coalesced left joins,
      // exact-integer vote.
      "corpus_quality_vote" ->
        s"""WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
          |m AS (
          |  SELECT doc_id, len(toks) AS n,
          |    round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks), 6) AS mean_word_len,
          |    round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(toks), 6) AS alpha_frac,
          |    len(list_filter(toks, x -> ${Corpus.GopherStopwords.map(w => s"x = '$w'").mkString(" OR ")}))::BIGINT AS n_stop,
          |    round(((length(text) - length(replace(text, '#', ''))) +
          |           (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE / len(toks), 6) AS symbol_ratio
          |  FROM t
          |), gg AS (
          |  SELECT doc_id,
          |    CASE WHEN (n BETWEEN 50 AND 100000)
          |      AND (mean_word_len BETWEEN 3.0 AND 10.0)
          |      AND alpha_frac >= 0.8 AND n_stop >= 2 AND symbol_ratio <= 0.1
          |    THEN 1 ELSE 0 END AS g1
          |  FROM m
          |), rr AS (
          |  SELECT doc_id,
          |    CASE WHEN round(206.835
          |      - 1.015 * (len(regexp_extract_all(text, '[A-Za-z]+'))::DOUBLE
          |        / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
          |      - 84.6 * (len(regexp_extract_all(lower(text), '[aeiouy]+'))::DOUBLE
          |        / len(regexp_extract_all(text, '[A-Za-z]+'))), 4) + 0.0
          |      >= 10.0 THEN 1 ELSE 0 END AS g2
          |  FROM documents WHERE len(regexp_extract_all(text, '[A-Za-z]+')) > 0
          |), tk AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          |  FROM documents
          |), f AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
          |tot AS (SELECT sum(c)::DOUBLE AS n FROM f),
          |qq AS (
          |  SELECT doc_id,
          |    CAST(floor((ln(n) - ln(c::DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS q
          |  FROM tk JOIN f USING (tok) CROSS JOIN tot
          |), ll AS (
          |  SELECT doc_id,
          |    CASE WHEN floor(sum(q)::DOUBLE / count(*) + 0.5) / 1e6 < 3.41
          |    THEN 1 ELSE 0 END AS g3
          |  FROM qq GROUP BY doc_id
          |), v AS (
          |  SELECT d.doc_id, d.source,
          |    coalesce(g1, 0) AS g1, coalesce(g2, 0) AS g2,
          |    coalesce(g3, 0) AS g3
          |  FROM documents d
          |  LEFT JOIN gg USING (doc_id)
          |  LEFT JOIN rr USING (doc_id)
          |  LEFT JOIN ll USING (doc_id)
          |)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(g1) AS BIGINT) AS pass_gopher,
          |  CAST(sum(g2) AS BIGINT) AS pass_readability,
          |  CAST(sum(g3) AS BIGINT) AS pass_lm,
          |  CAST(sum(CASE WHEN g1 + g2 + g3 >= 2 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_kept,
          |  floor(CAST(sum(CASE WHEN g1 + g2 + g3 >= 2 THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS keep_rate
          |FROM v GROUP BY source ORDER BY source""".stripMargin,
      "corpus_bpe_pairs" ->
        """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
          |w AS (SELECT unnest(toks) AS w FROM t),
          |p AS (
          |  SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
          |  FROM w WHERE length(w) >= 2
          |)
          |SELECT pair, count(*) AS n FROM p
          |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
      // op 402: same whitespace tokens, same 30-cap overflow bin.
      "corpus_token_histogram" ->
        """WITH tk AS (
          |  SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          |  FROM documents
          |)
          |SELECT lang, CAST(least(length(tok), 30) AS BIGINT) AS tok_len,
          |  count(*) AS n
          |FROM tk GROUP BY lang, least(length(tok), 30)
          |ORDER BY lang, tok_len""".stripMargin,
      // op 401: same modulo buckets, exact integer skew inputs.
      "layout_bucket_balance" ->
        """WITH b AS (
          |  SELECT doc_id % 32 AS bucket, count(*) AS n_docs,
          |    CAST(sum(n_chars) AS BIGINT) AS n_chars
          |  FROM documents GROUP BY doc_id % 32
          |)
          |SELECT count(*) AS n_buckets,
          |  CAST(sum(n_docs) AS BIGINT) AS total_docs,
          |  min(n_docs) AS min_docs, max(n_docs) AS max_docs,
          |  floor(CAST(max(n_docs) AS DOUBLE) * count(*)
          |    / CAST(sum(n_docs) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS row_skew,
          |  floor(CAST(max(n_chars) AS DOUBLE) * count(*)
          |    / CAST(sum(n_chars) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS byte_skew
          |FROM b""".stripMargin,
      "corpus_length_filter" ->
        """WITH b AS (
          |  SELECT source, quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi
          |  FROM documents GROUP BY source
          |)
          |SELECT doc_id, d.source, n_chars, round(lo, 6) AS len_lo, round(hi, 6) AS len_hi
          |FROM documents d JOIN b ON d.source = b.source
          |WHERE n_chars >= lo AND n_chars <= hi
          |ORDER BY doc_id""".stripMargin,
      "ann_hard_negatives" ->
        """WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, label AS cl, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |s AS (
          |  SELECT query_id, neighbor_id, cl,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c WHERE cl IS DISTINCT FROM ql
          |), r AS (
          |  SELECT query_id, neighbor_id, cl, cosine,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM s
          |)
          |SELECT query_id, rnk, neighbor_id, cl::BIGINT AS neighbor_label, round(cosine, 6) AS cosine
          |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
      "ann_hard_negatives_ivf" -> ivfOracle(labeled = true),
      "corpus_chunk_tokens" ->
        """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
          |c AS (
          |  SELECT doc_id, toks, unnest(range(0,
          |    CASE WHEN len(toks) <= 64 THEN 1
          |         ELSE CAST(ceil((len(toks) - 64) / 32.0) AS BIGINT) + 1 END)) AS chunk_idx
          |  FROM t
          |)
          |SELECT doc_id, chunk_idx,
          |  least(64, len(toks) - chunk_idx * 32)::BIGINT AS n_tokens,
          |  md5(array_to_string(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 64], ' ')) AS chunk_hash
          |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
      "text_repetition" ->
        """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
          |g AS (
          |  SELECT doc_id, unnest(list_transform(
          |    range(1, greatest(len(toks)-1, 1) + 1),
          |    i -> array_to_string(toks[i:i+1], ' '))) AS g
          |  FROM t
          |), c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
          |SELECT doc_id,
          |  round(max(c)::DOUBLE / sum(c), 6) AS top_ngram_frac,
          |  round(count(*)::DOUBLE / sum(c), 6) AS distinct_frac
          |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "corpus_sample" ->
        s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
          |sc AS (SELECT doc_id, $langScores FROM t),
          |l AS (SELECT doc_id, CASE $langCase ELSE 'unknown' END AS lang FROM sc),
          |u AS (
          |  SELECT doc_id, lang,
          |    ${w8("md5(doc_id::VARCHAR)")} / 4294967296.0 AS u,
          |    CASE WHEN lang = 'en' THEN 0.9
          |         WHEN lang = 'unknown' THEN 0.25 ELSE 0.5 END AS rate
          |  FROM l
          |)
          |SELECT lang, count(*) AS n_kept FROM u WHERE u < rate
          |GROUP BY lang ORDER BY lang""".stripMargin,
      // op 197: same md5 coin, same thresholds, exact fractions.
      "corpus_split" ->
        s"""WITH u AS (
          |  SELECT source, doc_id,
          |    len(regexp_split_to_array(trim(text), '\\s+')) AS ntok,
          |    ${w8("md5(doc_id::VARCHAR)")} / 4294967296.0 AS u
          |  FROM documents
          |), s AS (
          |  SELECT source,
          |    CASE WHEN u < 0.8 THEN 'train'
          |         WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
          |    ntok
          |  FROM u
          |), g AS (
          |  SELECT source, split, count(*) AS n_docs,
          |    CAST(sum(ntok) AS BIGINT) AS n_tokens
          |  FROM s GROUP BY 1, 2
          |)
          |SELECT source, split, n_docs, n_tokens,
          |  round(CAST(n_docs AS DOUBLE)
          |        / sum(n_docs) OVER (PARTITION BY source), 6) AS frac
          |FROM g ORDER BY source, split""".stripMargin,
      "corpus_contamination" ->
        s"""WITH $CORPUS_CTE,
          |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM corpus),
          |sh AS (
          |  SELECT doc_id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-7, 1) + 1),
          |    i -> array_to_string(toks[i:i+7], ' ')))) AS sh
          |  FROM t
          |),
          |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0 AND doc_id < 1000000),
          |train AS (SELECT doc_id, sh FROM sh WHERE NOT (doc_id % 97 = 0 AND doc_id < 1000000))
          |SELECT doc_id, count(*) AS n_hits
          |FROM train JOIN bench USING (sh)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "corpus_pack" ->
        s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
          |sc AS (SELECT doc_id, len(toks) AS ntok, $langScores FROM t),
          |l AS (SELECT doc_id, ntok, CASE $langCase ELSE 'unknown' END AS stratum FROM sc),
          |b AS (
          |  SELECT stratum, doc_id, ntok,
          |    CAST(floor((sum(ntok) OVER (PARTITION BY stratum ORDER BY doc_id) - ntok) / 2048.0) AS BIGINT) AS bin
          |  FROM l
          |)
          |SELECT stratum, bin, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS sum_tokens
          |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // Layout planners (ops 139-140): integer-exact window prefix /
      // bit-interleave algebra, replayed verbatim.
      "layout_shard_plan" ->
        """WITH p AS (
          |  SELECT source, n_chars,
          |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
          |      AS BIGINT) AS shard_id
          |  FROM documents)
          |SELECT source, shard_id, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS shard_chars
          |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // op 367: same manifest, same zone-miss rule, exact counts.
      "layout_prune_report" ->
        """WITH p AS (
          |  SELECT source, doc_id, n_chars,
          |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
          |      AS BIGINT) AS shard_id
          |  FROM documents
          |), man AS (
          |  SELECT source, shard_id, min(doc_id) AS min_id,
          |    max(doc_id) AS max_id, CAST(sum(n_chars) AS BIGINT) AS bytes
          |  FROM p GROUP BY 1, 2
          |), f AS (
          |  SELECT *, (max_id < 100 OR min_id > 500) AS prunable FROM man
          |)
          |SELECT source, count(*) AS n_shards,
          |  CAST(sum(CASE WHEN prunable THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_pruned,
          |  CAST(sum(CASE WHEN prunable THEN 0 ELSE 1 END) AS BIGINT)
          |    AS n_scanned,
          |  CAST(sum(CASE WHEN prunable THEN 0 ELSE bytes END) AS BIGINT)
          |    AS bytes_scanned,
          |  floor(CAST(sum(CASE WHEN prunable THEN 1 ELSE 0 END) AS DOUBLE)
          |    / count(*) * 1e6 + 0.5) / 1e6 AS prune_rate
          |FROM f GROUP BY source ORDER BY source""".stripMargin,
      // op 344: same shard manifest, same exclusive small-size prefix
      // div — all integers, hash-exact.
      "layout_compaction" ->
        """WITH p AS (
          |  SELECT source, doc_id, n_chars,
          |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
          |      AS BIGINT) AS shard_id
          |  FROM documents
          |), f AS (
          |  SELECT source, shard_id, CAST(sum(n_chars) AS BIGINT) AS bytes
          |  FROM p GROUP BY 1, 2
          |), c AS (
          |  SELECT source, shard_id, bytes,
          |    CASE WHEN bytes < 3000 THEN 'compact' ELSE 'keep' END AS action,
          |    CASE WHEN bytes < 3000 THEN
          |      CAST(coalesce(sum(CASE WHEN bytes < 3000 THEN bytes ELSE 0 END)
          |        OVER (PARTITION BY source ORDER BY shard_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |        // 10000 AS BIGINT)
          |      ELSE -1 END AS bin
          |  FROM f
          |)
          |SELECT source, action, bin, count(*) AS n_files,
          |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
          |  min(shard_id) AS min_shard, max(shard_id) AS max_shard
          |FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      "layout_manifest" ->
        """WITH p AS (
          |  SELECT source, doc_id, n_chars, lang,
          |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
          |      AS BIGINT) AS shard_id
          |  FROM documents)
          |SELECT source, shard_id, count(*) AS n_rows,
          |  min(doc_id) AS min_id, max(doc_id) AS max_id,
          |  CAST(min(n_chars) AS BIGINT) AS min_chars,
          |  CAST(max(n_chars) AS BIGINT) AS max_chars,
          |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang
          |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // op 202: same shard plan, same exact-floor probe positions,
      // same left-join zero-touch handling.
      "layout_overlap" ->
        """WITH p AS (
          |  SELECT source, doc_id,
          |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
          |      AS BIGINT) AS shard_id
          |  FROM documents
          |), man AS (
          |  SELECT source, shard_id, min(doc_id) AS min_id,
          |    max(doc_id) AS max_id
          |  FROM p GROUP BY 1, 2
          |), spans AS (
          |  SELECT source, min(min_id) AS lo, max(max_id) AS hi,
          |    count(*) AS n_shards
          |  FROM man GROUP BY source
          |), probes AS (
          |  SELECT source, n_shards, j.j AS j,
          |    lo + CAST(floor((hi - lo) * j.j / 9.0) AS BIGINT) AS pp
          |  FROM spans CROSS JOIN (SELECT range AS j FROM range(0, 10)) j
          |), touched AS (
          |  SELECT probes.source, j, count(*) AS t
          |  FROM probes JOIN man ON probes.source = man.source
          |    AND pp >= min_id AND pp <= max_id
          |  GROUP BY 1, 2
          |)
          |SELECT source, max(n_shards) AS n_shards,
          |  round(CAST(sum(coalesce(t, 0)) AS DOUBLE) / 10.0, 4) AS avg_touched,
          |  round(1.0 - CAST(sum(coalesce(t, 0)) AS DOUBLE) / 10.0
          |        / max(n_shards), 4) AS skip_frac
          |FROM probes LEFT JOIN touched USING (source, j)
          |GROUP BY source ORDER BY source""".stripMargin,
      "layout_zorder" ->
        s"""WITH d AS (
          |  SELECT user_id,
          |    least(greatest((epoch_us(ts) - 1704067200000000) // 3600000000, 0), 719) AS h
          |  FROM events),
          |q AS (SELECT user_id, h, (h * 256) // 720 AS hb FROM d),
          |z AS (SELECT user_id, h,
          |  CAST((${graft.operators.Layout.zorderSql(Seq("user_id", "hb"), 8)}) // 256 AS BIGINT) AS file_id
          |  FROM q)
          |SELECT file_id, count(*) AS n_rows,
          |  CAST(max(user_id) - min(user_id) AS BIGINT) AS user_span,
          |  CAST(max(h) - min(h) AS BIGINT) AS hour_span
          |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
      "dedup_exact" ->
        s"""WITH $CORPUS_CTE
          |SELECT doc_id,
          |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
          |  doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
          |FROM corpus ORDER BY doc_id""".stripMargin,
      "corpus_dedup_report" ->
        s"""WITH $CORPUS_CTE,
          |k AS (
          |  SELECT doc_id, text,
          |    min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
          |  FROM corpus
          |), j AS (
          |  SELECT d.source,
          |    CASE WHEN k.doc_id != k.canonical_id THEN 1 ELSE 0 END AS removed,
          |    len(regexp_split_to_array(trim(k.text), '\\s+')) AS ntok
          |  FROM k JOIN documents d ON (k.doc_id % 1000000) = d.doc_id
          |)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(removed) AS BIGINT) AS n_removed,
          |  CAST(sum(removed * ntok) AS BIGINT) AS tokens_removed,
          |  round(CAST(sum(removed) AS DOUBLE) / count(*), 6) AS removed_frac
          |FROM j GROUP BY source ORDER BY source""".stripMargin,
      "dedup_minhash_lsh" -> minhashPairsSql,
      // op 169: the bands chain + the exact-Jaccard chain composed in
      // one statement (jsh renamed to avoid the bands CTE's sh).
      "dedup_eval" ->
        s"""$minhashBandsCte,
          |jsh AS (
          |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-2, 1) + 1),
          |    i -> array_to_string(toks[i:i+2], ' ')))) AS jg
          |  FROM t
          |), sizes AS (SELECT id, count(*) AS sz FROM jsh GROUP BY id),
          |-- same 10000 stop-shingle cap as the Spark-side truth
          |jcap AS (
          |  SELECT id, jg FROM jsh
          |  QUALIFY count(*) OVER (PARTITION BY jg) BETWEEN 2 AND 10000
          |),
          |common AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
          |  FROM jcap a JOIN jcap b ON a.jg = b.jg AND a.id < b.id
          |  GROUP BY a.id, b.id
          |), truth AS (
          |  SELECT id_a, id_b FROM common
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |  WHERE common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE >= 0.5
          |), found AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          |), hit AS (SELECT * FROM found INTERSECT SELECT * FROM truth)
          |SELECT
          |  (SELECT count(*) FROM truth) AS n_truth,
          |  (SELECT count(*) FROM found) AS n_found,
          |  (SELECT count(*) FROM hit) AS n_hit,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM found), 6) AS precision,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM truth), 6) AS recall""".stripMargin,
      // op 370: the op-169 report with SimHash banding as the
      // candidate generator — same exact-Jaccard truth chain.
      "dedup_eval_simhash" ->
        s"""$TOKS_CTE, tok AS (
          |  SELECT doc_id, unnest(toks) AS _w FROM t
          |), h AS (SELECT doc_id, CAST($hexpr AS BIGINT) AS hv FROM tok),
          |bits AS (
          |  SELECT doc_id, r.range AS b,
          |    CASE WHEN (hv >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS sgn
          |  FROM h CROSS JOIN range(0, 32) r
          |), sums AS (SELECT doc_id, b, sum(sgn) AS sc FROM bits GROUP BY doc_id, b),
          |fp AS (
          |  SELECT doc_id,
          |    CAST(sum(CASE WHEN sc > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          |  FROM sums GROUP BY doc_id
          |), sbands AS (
          |  SELECT doc_id, simhash, r.range AS band,
          |    (simhash >> CAST(8 * r.range AS INT)) & 255 AS bucket
          |  FROM fp CROSS JOIN range(0, 4) r
          |), found AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM sbands a JOIN sbands b
          |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
          |), jsh AS (
          |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-2, 1) + 1),
          |    i -> array_to_string(toks[i:i+2], ' ')))) AS jg
          |  FROM t
          |), sizes AS (SELECT id, count(*) AS sz FROM jsh GROUP BY id),
          |jcap AS (
          |  SELECT id, jg FROM jsh
          |  QUALIFY count(*) OVER (PARTITION BY jg) BETWEEN 2 AND 10000
          |),
          |common AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
          |  FROM jcap a JOIN jcap b ON a.jg = b.jg AND a.id < b.id
          |  GROUP BY a.id, b.id
          |), truth AS (
          |  SELECT id_a, id_b FROM common
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |  WHERE common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE >= 0.5
          |), hit AS (SELECT * FROM found INTERSECT SELECT * FROM truth)
          |SELECT
          |  (SELECT count(*) FROM truth) AS n_truth,
          |  (SELECT count(*) FROM found) AS n_found,
          |  (SELECT count(*) FROM hit) AS n_hit,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM found), 6) AS precision,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM truth), 6) AS recall""".stripMargin,
      // op 371: the op-169 report with directed containment as the
      // candidate generator — truth and found share ONE capped
      // postings chain (both are views over the same `common` CTE).
      "dedup_eval_containment" ->
        s"""$TOKS_CTE, jsh AS (
          |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-2, 1) + 1),
          |    i -> array_to_string(toks[i:i+2], ' ')))) AS jg
          |  FROM t
          |), sizes AS (SELECT id, count(*) AS sz FROM jsh GROUP BY id),
          |jcap AS (
          |  SELECT id, jg FROM jsh
          |  QUALIFY count(*) OVER (PARTITION BY jg) BETWEEN 2 AND 10000
          |),
          |common AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
          |  FROM jcap a JOIN jcap b ON a.jg = b.jg AND a.id < b.id
          |  GROUP BY a.id, b.id
          |), j AS (
          |  SELECT id_a, id_b,
          |    common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE AS jac,
          |    common::DOUBLE / sa.sz::DOUBLE AS ca,
          |    common::DOUBLE / sb.sz::DOUBLE AS cb
          |  FROM common
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |), truth AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
          |found AS (SELECT id_a, id_b FROM j WHERE greatest(ca, cb) >= 0.5),
          |hit AS (SELECT * FROM found INTERSECT SELECT * FROM truth)
          |SELECT
          |  (SELECT count(*) FROM truth) AS n_truth,
          |  (SELECT count(*) FROM found) AS n_found,
          |  (SELECT count(*) FROM hit) AS n_hit,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM found), 6) AS precision,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM truth), 6) AS recall""".stripMargin,
      // Incremental twin: index buckets (min id, count) from the
      // original docs; planted copies query them. Same bands chain.
      "dedup_incremental" -> minhashIncrementalSql,
      "streaming_dedup_incremental" -> minhashIncrementalSql,
      // Streaming replay oracle: the same band buckets over the
      // planted corpus; event order = doc_id order (replayTs), so
      // dup_of(i) = min earlier doc sharing any band bucket.
      "streaming_dedup_minhash" ->
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
          |GROUP BY b1.doc_id ORDER BY 1""".stripMargin),
      // Transitive closure over the SAME pairs the minhash oracle
      // emits: DuckDB's recursive CTE computes min-reachable-id per
      // member — the fixed point the Spark label propagation converges
      // to, so the two engines must agree exactly.
      "dedup_clusters" ->
        s"""WITH RECURSIVE pairs AS (
          |  $minhashPairsSql
          |), edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM pairs
          |  UNION SELECT id_b, id_a FROM pairs
          |), reach AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE e.dst != r.src
          |)
          |SELECT src AS id, least(src, min(dst)) AS cluster_id
          |FROM reach GROUP BY src ORDER BY id""".stripMargin,
      // op 203: the op-81 component table re-aggregated twice.
      "dedup_cluster_stats" ->
        s"""WITH RECURSIVE pairs AS (
          |  $minhashPairsSql
          |), edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM pairs
          |  UNION SELECT id_b, id_a FROM pairs
          |), reach AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE e.dst != r.src
          |), comp AS (
          |  SELECT src AS id, least(src, min(dst)) AS cluster_id
          |  FROM reach GROUP BY src
          |), sz AS (
          |  SELECT cluster_id, count(*) AS cluster_size
          |  FROM comp GROUP BY cluster_id
          |)
          |SELECT cluster_size, count(*) AS n_clusters,
          |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_dup_docs
          |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
      "dedup_simhash" ->
        s"""$TOKS_CTE, tok AS (
          |  SELECT doc_id, unnest(toks) AS _w FROM t
          |), h AS (SELECT doc_id, CAST($hexpr AS BIGINT) AS hv FROM tok),
          |bits AS (
          |  SELECT doc_id, r.range AS b,
          |    CASE WHEN (hv >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS sgn
          |  FROM h CROSS JOIN range(0, 32) r
          |), sums AS (SELECT doc_id, b, sum(sgn) AS sc FROM bits GROUP BY doc_id, b)
          |SELECT doc_id,
          |  CAST(sum(CASE WHEN sc > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          |FROM sums GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // Pigeonhole banding replayed in SQL: 4×8-bit bands of the same
      // sign-sum fingerprint, candidates from exact band matches,
      // bit_count(xor) verification.
      "dedup_simhash_pairs" ->
        s"""$TOKS_CTE, tok AS (
          |  SELECT doc_id, unnest(toks) AS _w FROM t
          |), h AS (SELECT doc_id, CAST($hexpr AS BIGINT) AS hv FROM tok),
          |bits AS (
          |  SELECT doc_id, r.range AS b,
          |    CASE WHEN (hv >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS sgn
          |  FROM h CROSS JOIN range(0, 32) r
          |), sums AS (SELECT doc_id, b, sum(sgn) AS sc FROM bits GROUP BY doc_id, b),
          |fp AS (
          |  SELECT doc_id,
          |    CAST(sum(CASE WHEN sc > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          |  FROM sums GROUP BY doc_id
          |), bands AS (
          |  SELECT doc_id, simhash, r.range AS band,
          |    (simhash >> CAST(8 * r.range AS INT)) & 255 AS bucket
          |  FROM fp CROSS JOIN range(0, 4) r
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          |    bit_count(xor(a.simhash, b.simhash)) AS hamming
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          |)
          |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
          |FROM cand WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
      "dedup_ngram_jaccard" ->
        s"""$TOKS_CTE, sh AS (
          |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-2, 1) + 1),
          |    i -> array_to_string(toks[i:i+2], ' ')))) AS sh
          |  FROM t
          |), sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
          |-- stop-shingle cap: postings lists over DefaultMaxBucket
          |-- (10000) are dropped on the Spark side before pairing, so
          |-- the oracle must drop them too or the hash match is latent
          |-- on no shingle ever exceeding the cap.
          |capped AS (
          |  SELECT id, sh FROM sh
          |  QUALIFY count(*) OVER (PARTITION BY sh) BETWEEN 2 AND 10000
          |),
          |common AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
          |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.id < b.id
          |  GROUP BY a.id, b.id
          |), j AS (
          |  SELECT id_a, id_b,
          |    common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE AS jaccard
          |  FROM common
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |)
          |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
          |FROM j WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin,
      // op 319: same postings algebra, both directed containments.
      "dedup_containment" ->
        s"""$TOKS_CTE, sh AS (
          |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-2, 1) + 1),
          |    i -> array_to_string(toks[i:i+2], ' ')))) AS sh
          |  FROM t
          |), sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
          |-- same stop-shingle cap parity as dedup_ngram_jaccard: the
          |-- Spark side drops postings lists over 10000 before pairing.
          |capped AS (
          |  SELECT id, sh FROM sh
          |  QUALIFY count(*) OVER (PARTITION BY sh) BETWEEN 2 AND 10000
          |),
          |common AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
          |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.id < b.id
          |  GROUP BY a.id, b.id
          |), j AS (
          |  SELECT id_a, id_b,
          |    common::DOUBLE / sa.sz::DOUBLE AS ca,
          |    common::DOUBLE / sb.sz::DOUBLE AS cb
          |  FROM common
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |)
          |SELECT id_a, id_b, round(ca, 6) AS containment_a,
          |  round(cb, 6) AS containment_b
          |FROM j WHERE greatest(ca, cb) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin,
      // Replays the 4-table × 8-plane sign-LSH candidate generation of
      // Dedup.embeddingCosinePairs exactly (same md5-derived plane
      // literals), then the same exact-cosine verification — the
      // approximate operator is still hash-checkable.
      "dedup_embedding" ->
        s"""WITH $ECORPUS_CTE, v AS (
          |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM ecorpus
          |), keys AS (
          |${(0 until 4).map(t =>
             s"  SELECT id, $t AS tbl, ${lshBucketSqlAt("v", t * 8, 8)} AS bucket FROM v")
             .mkString("\n  UNION ALL\n")}
          |), cand AS (
          |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
          |  FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
          |), p AS (
          |  SELECT id_a, id_b,
          |    list_dot_product(va.v, vb.v) /
          |      (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))) AS cosine
          |  FROM cand JOIN v va ON va.id = id_a JOIN v vb ON vb.id = id_b
          |)
          |SELECT id_a, id_b, round(cosine, 6) AS cosine
          |FROM p WHERE cosine >= 0.99 ORDER BY id_a, id_b""".stripMargin,
      // op 208: identical 1e-4 component quantization, integer inner
      // products → the (score, id) top-k is the same total order.
      "ann_topk_mips" ->
        """WITH v AS (
          |  SELECT vec_id, list_transform(embedding::DOUBLE[],
          |    x -> CAST(floor(x * 1e4 + 0.5) AS BIGINT)) AS q
          |  FROM embeddings
          |), qs AS (SELECT vec_id AS query_id, q AS qv FROM v WHERE vec_id < 3),
          |cs AS (SELECT vec_id AS neighbor_id, q AS cv FROM v WHERE vec_id >= 3),
          |sc AS (
          |  SELECT query_id, neighbor_id,
          |    CAST(list_sum(list_transform(range(1, len(qv) + 1),
          |      i -> qv[i] * cv[i])) AS BIGINT) AS ip_q
          |  FROM cs CROSS JOIN qs
          |), rk AS (
          |  SELECT *, CAST(row_number() OVER (
          |    PARTITION BY query_id ORDER BY ip_q DESC, neighbor_id)
          |    AS BIGINT) AS rank
          |  FROM sc
          |)
          |SELECT query_id, rank, neighbor_id,
          |  round(ip_q / 1e8, 6) AS inner_product
          |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      // op 286: same corpus-trained ranges, same clipped-code
      // reconstruction (identical parenthesization), same ranking.
      "ann_topk_sq8" ->
        """WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5),
          |q0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5),
          |ex AS (SELECT unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM c0),
          |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
          |rng AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM rg),
          |cr AS (
          |  SELECT vec_id AS neighbor_id,
          |    list_transform(list_zip(v, mns, mxs), s ->
          |      CASE WHEN s[3] = s[2] THEN s[2]
          |           ELSE s[2] + least(greatest(floor((s[1] - s[2]) / (s[3] - s[2]) * 255.0 + 0.5), 0.0), 255.0)
          |                       / 255.0 * (s[3] - s[2]) END) AS cv
          |  FROM c0 CROSS JOIN rng
          |), qr AS (
          |  SELECT vec_id AS query_id,
          |    list_transform(list_zip(v, mns, mxs), s ->
          |      CASE WHEN s[3] = s[2] THEN s[2]
          |           ELSE s[2] + least(greatest(floor((s[1] - s[2]) / (s[3] - s[2]) * 255.0 + 0.5), 0.0), 255.0)
          |                       / 255.0 * (s[3] - s[2]) END) AS qv
          |  FROM q0 CROSS JOIN rng
          |), sc AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM qr CROSS JOIN cr
          |), rk AS (
          |  SELECT query_id, neighbor_id, cosine,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM sc
          |)
          |SELECT query_id, rnk, neighbor_id, round(cosine, 6) AS cosine
          |FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
      // op 296: the op-286 reconstructed ranking joined against the
      // full-precision brute top-3 (the ann_recall evaluation shape).
      "ann_recall_sq8" ->
        """WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5),
          |q0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5),
          |ex AS (SELECT unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM c0),
          |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos),
          |rng AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM rg),
          |cr AS (
          |  SELECT vec_id AS neighbor_id,
          |    list_transform(list_zip(v, mns, mxs), s ->
          |      CASE WHEN s[3] = s[2] THEN s[2]
          |           ELSE s[2] + least(greatest(floor((s[1] - s[2]) / (s[3] - s[2]) * 255.0 + 0.5), 0.0), 255.0)
          |                       / 255.0 * (s[3] - s[2]) END) AS cv
          |  FROM c0 CROSS JOIN rng
          |), qr AS (
          |  SELECT vec_id AS query_id,
          |    list_transform(list_zip(v, mns, mxs), s ->
          |      CASE WHEN s[3] = s[2] THEN s[2]
          |           ELSE s[2] + least(greatest(floor((s[1] - s[2]) / (s[3] - s[2]) * 255.0 + 0.5), 0.0), 255.0)
          |                       / 255.0 * (s[3] - s[2]) END) AS qv
          |  FROM q0 CROSS JOIN rng
          |), sc AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM qr CROSS JOIN cr
          |), ap AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sc
          |  ) WHERE rnk <= 3
          |), bs AS (
          |  SELECT q0.vec_id AS query_id, c0.vec_id AS neighbor_id,
          |    list_dot_product(q0.v, c0.v) /
          |      (sqrt(list_dot_product(q0.v, q0.v)) * sqrt(list_dot_product(c0.v, c0.v))) AS cosine
          |  FROM q0 CROSS JOIN c0
          |), exa AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM bs
          |  ) WHERE rnk <= 3
          |), h AS (
          |  SELECT e.query_id, count(*) AS n_hits
          |  FROM exa e JOIN ap a USING (query_id, neighbor_id)
          |  GROUP BY e.query_id
          |)
          |SELECT q.query_id,
          |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
          |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / 3, 6) AS recall
          |FROM (SELECT DISTINCT query_id FROM exa) q LEFT JOIN h USING (query_id)
          |ORDER BY query_id""".stripMargin,
      "ann_topk_bruteforce" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c
          |), r AS (
          |  SELECT query_id, neighbor_id, cosine,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM s
          |)
          |SELECT query_id, rnk, neighbor_id, round(cosine, 6) AS cosine
          |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
      "window_agg" ->
        """SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type,
          |  count(*) AS n,
          |  round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
      // LCG draws replay with the md5-derived per-key seed inlined as a
      // literal (single key 'click'); the draw relation is v itself
      // crossed with the trial range — mirroring Resample.drawsAndRows.
      "df_resample_returns" ->
        s"""WITH r AS (
          |  SELECT value / lag(value) OVER (ORDER BY ts, event_id) - 1 AS ret, ts, event_id
          |  FROM events WHERE event_type = 'click'
          |), v AS (
          |  SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
          |         CAST(round(ret * 1e6) AS BIGINT) AS q
          |  FROM r WHERE ret IS NOT NULL
          |), draws AS (
          |  SELECT t.range AS trial,
          |    ((1103515245 * (${keySeedLit("click")} + t.range * 100003 + v.rn) + 12345) % 2147483648)
          |      % (SELECT count(*) FROM v) AS rn
          |  FROM v CROSS JOIN range(0, 50) t
          |)
          |SELECT trial, round(sum(q)::DOUBLE / (count(*) * 1e6), 6) AS stat
          |FROM draws JOIN v USING (rn) GROUP BY trial ORDER BY trial""".stripMargin,
      "df_resample_by_key" ->
        s"""WITH r AS (
          |  SELECT event_type, value / lag(value) OVER w - 1 AS ret, ts, event_id
          |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
          |), v AS (
          |  SELECT event_type,
          |         row_number() OVER w - 1 AS rn,
          |         count(*) OVER (PARTITION BY event_type) AS n,
          |         ${w8("md5(event_type)")} AS ks,
          |         CAST(round(ret * 1e6) AS BIGINT) AS q
          |  FROM r WHERE ret IS NOT NULL
          |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
          |), draws AS (
          |  SELECT event_type, t.range AS trial,
          |    ((1103515245 * (ks + t.range * 100003 + rn) + 12345) % 2147483648) % n AS rn2
          |  FROM v CROSS JOIN range(0, 20) t
          |)
          |SELECT d.event_type, d.trial, round(sum(v2.q)::DOUBLE / (count(*) * 1e6), 6) AS stat
          |FROM draws d JOIN v v2 ON v2.event_type = d.event_type AND v2.rn = d.rn2
          |GROUP BY d.event_type, d.trial ORDER BY 1, 2""".stripMargin,
      // Same draw stream as df_resample_returns (20 trials); mean and
      // vol both from exact integer sums — identical double-op order on
      // both engines.
      "df_resample_multistat" ->
        s"""WITH r AS (
          |  SELECT value / lag(value) OVER (ORDER BY ts, event_id) - 1 AS ret, ts, event_id
          |  FROM events WHERE event_type = 'click'
          |), v AS (
          |  SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
          |         CAST(round(ret * 1e4) AS BIGINT) AS q
          |  FROM r WHERE ret IS NOT NULL
          |), draws AS (
          |  SELECT t.range AS trial,
          |    ((1103515245 * (${keySeedLit("click")} + t.range * 100003 + v.rn) + 12345) % 2147483648)
          |      % (SELECT count(*) FROM v) AS rn
          |  FROM v CROSS JOIN range(0, 20) t
          |), s AS (
          |  SELECT trial, count(*)::DOUBLE AS n,
          |         sum(q)::DOUBLE AS s1, sum(q * q)::DOUBLE AS s2
          |  FROM draws JOIN v USING (rn) GROUP BY trial
          |)
          |SELECT trial, round(s1 / (n * 1e4), 6) AS mean,
          |  round(sqrt((s2 - s1 * s1 / n) / (n - 1.0)) / 1e4, 6) AS vol
          |FROM s ORDER BY trial""".stripMargin,
      "eod_corr_matrix" ->
        """WITH r AS (
          |  SELECT event_type, value / lag(value) OVER w - 1 AS ret,
          |         row_number() OVER w AS rn
          |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
          |)
          |SELECT a.event_type AS type_a, b.event_type AS type_b,
          |  round(corr(a.ret, b.ret), 6) AS corr
          |FROM r a JOIN r b ON a.rn = b.rn AND a.event_type < b.event_type
          |GROUP BY type_a, type_b ORDER BY type_a, type_b""".stripMargin,
      // op 305: the identical quantized pair moments (hugeint = the
      // Spark side's decimal), identical 1e-6 re-quantized ρ, and the
      // 6 power iterations unrolled as generated CTE triples — every
      // arithmetic step integer-exact or a deterministic double op on
      // identical integers, so the loadings match bit-for-bit.
      "eod_pca_factor" -> {
        val iters = (1 to 5).map { i =>
          s"""w$i AS (
             |  SELECT ta, CAST(sum(rq * vq) AS BIGINT) AS wv
             |  FROM m JOIN v${i - 1} ON m.tb = v${i - 1}.event_type
             |  GROUP BY ta
             |), n$i AS (
             |  SELECT sqrt(CAST(sum(CAST(wv AS HUGEINT) * wv) AS DOUBLE)) AS nrm
             |  FROM w$i
             |), v$i AS (
             |  SELECT ta AS event_type,
             |    CAST(floor(CAST(wv AS DOUBLE) / nrm * 1000000.0 + 0.5)
             |      AS BIGINT) AS vq
             |  FROM w$i CROSS JOIN n$i
             |)""".stripMargin
        }.mkString(", ")
        s"""$R_CTE, x AS (
          |  SELECT event_type,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY ts, event_id) AS rn,
          |    CASE WHEN ret IS NOT NULL
          |      THEN CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) END AS q
          |  FROM r
          |), pm AS (
          |  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n,
          |    CAST(sum(a.q) AS BIGINT) AS sa, CAST(sum(b.q) AS BIGINT) AS sb,
          |    sum(CAST(a.q AS HUGEINT) * b.q) AS sab,
          |    sum(CAST(a.q AS HUGEINT) * a.q) AS saa,
          |    sum(CAST(b.q AS HUGEINT) * b.q) AS sbb
          |  FROM x a JOIN x b ON a.rn = b.rn
          |  WHERE a.q IS NOT NULL AND b.q IS NOT NULL
          |  GROUP BY 1, 2
          |), m AS MATERIALIZED (
          |  -- MATERIALIZED: referenced by all 7 unrolled multiplies.
          |  SELECT ta, tb,
          |    CAST(floor(CASE WHEN n * saa - CAST(sa AS HUGEINT) * sa > 0
          |                     AND n * sbb - CAST(sb AS HUGEINT) * sb > 0
          |      THEN CAST(n * sab - CAST(sa AS HUGEINT) * sb AS DOUBLE)
          |        / sqrt(CAST(n * saa - CAST(sa AS HUGEINT) * sa AS DOUBLE)
          |             * CAST(n * sbb - CAST(sb AS HUGEINT) * sb AS DOUBLE))
          |      ELSE 0.0 END * 1000000.0 + 0.5) AS BIGINT) AS rq
          |  FROM pm
          |), kk AS (
          |  SELECT CAST(count(*) AS BIGINT) AS k FROM m WHERE ta = tb
          |), v0 AS (
          |  SELECT ta AS event_type, CAST(1000000 AS BIGINT) AS vq
          |  FROM m WHERE ta = tb
          |), $iters, w6 AS (
          |  SELECT ta, CAST(sum(rq * vq) AS BIGINT) AS wv
          |  FROM m JOIN v5 ON m.tb = v5.event_type GROUP BY ta
          |), n6 AS (
          |  SELECT sqrt(CAST(sum(CAST(wv AS HUGEINT) * wv) AS DOUBLE)) AS nrm
          |  FROM w6
          |)
          |SELECT ta AS event_type,
          |  round(CAST(floor(CAST(wv AS DOUBLE) / nrm * 1000000.0 + 0.5)
          |    AS BIGINT) / 1000000.0, 4) + 0.0 AS loading,
          |  round(nrm / 1e12, 6) + 0.0 AS eigval,
          |  round(nrm / 1e12 / k, 4) + 0.0 AS var_share
          |FROM w6 CROSS JOIN n6 CROSS JOIN kk
          |ORDER BY event_type""".stripMargin
      },
      // op 306: same exact pair moments → integer covariance grid,
      // 4 fixed-point rounds unrolled as generated CTE quintuples,
      // identical max-pivot quantization and +1-unit (Cw) floor.
      // op 325: same pair-moment covariance CTE; 6 unrolled Jacobi
      // sweeps (MATERIALIZED per the risk-parity lesson), identical
      // floor/divide placement, L1 normalization + Sharpe at 1e-6.
      "eod_tangency" -> {
        val steps = (1 to 6).map { i =>
          s"""o$i AS MATERIALIZED (
             |  SELECT c.ta, sum(cq * wq) AS oq
             |  FROM c JOIN w${i - 1} ON c.tb = w${i - 1}.event_type
             |  WHERE c.ta <> c.tb GROUP BY c.ta
             |), w$i AS MATERIALIZED (
             |  SELECT b.ta AS event_type,
             |    CAST(floor(CAST(muq * 1000000000 - coalesce(oq, 0)
             |      AS DOUBLE) / CAST(dq AS DOUBLE) + 0.5) AS HUGEINT) AS wq
             |  FROM b LEFT JOIN o$i ON b.ta = o$i.ta
             |)""".stripMargin
        }.mkString(", ")
        s"""$R_CTE, x AS (
          |  SELECT event_type,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY ts, event_id) AS rn,
          |    CASE WHEN ret IS NOT NULL
          |      THEN CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) END AS q
          |  FROM r
          |), pm AS (
          |  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n,
          |    CAST(sum(a.q) AS BIGINT) AS sa, CAST(sum(b.q) AS BIGINT) AS sb,
          |    sum(CAST(a.q AS HUGEINT) * b.q) AS sab
          |  FROM x a JOIN x b ON a.rn = b.rn
          |  WHERE a.q IS NOT NULL AND b.q IS NOT NULL
          |  GROUP BY 1, 2
          |), c AS MATERIALIZED (
          |  SELECT ta, tb,
          |    CAST(floor(CAST(n * sab - CAST(sa AS HUGEINT) * sb AS DOUBLE)
          |      / (CAST(n AS DOUBLE) * (n - 1.0)) + 0.5) AS HUGEINT) AS cq
          |  FROM pm
          |), b AS MATERIALIZED (
          |  SELECT pm.ta,
          |    CAST(floor(CAST(sa AS DOUBLE) * 1e6 / CAST(n AS DOUBLE) + 0.5)
          |      AS HUGEINT) AS muq,
          |    greatest(c.cq, 1) AS dq
          |  FROM pm JOIN c ON pm.ta = c.ta AND pm.tb = c.tb
          |  WHERE pm.ta = pm.tb
          |), w0 AS MATERIALIZED (
          |  SELECT ta AS event_type,
          |    CAST(floor(CAST(muq * 1000000000 AS DOUBLE)
          |      / CAST(dq AS DOUBLE) + 0.5) AS HUGEINT) AS wq
          |  FROM b
          |), $steps, cw AS (
          |  SELECT c.ta, sum(cq * wq) AS cwq
          |  FROM c JOIN w6 ON c.tb = w6.event_type GROUP BY c.ta
          |), f AS (
          |  SELECT b.ta, wq, muq, cwq
          |  FROM b JOIN w6 ON b.ta = w6.event_type
          |  JOIN cw ON b.ta = cw.ta
          |), tot AS (
          |  SELECT sum(abs(wq)) AS l1, sum(muq * wq) AS pr,
          |    sum(wq * cwq) AS pv
          |  FROM f
          |)
          |SELECT ta AS event_type,
          |  round(CAST(wq AS DOUBLE) / CAST(l1 AS DOUBLE), 6) + 0.0
          |    AS weight,
          |  round(CAST(pr AS DOUBLE) / sqrt(CAST(greatest(pv, 1) AS DOUBLE))
          |    / 1e6, 6) + 0.0 AS port_sharpe
          |FROM f CROSS JOIN tot ORDER BY event_type""".stripMargin
      },
      "eod_risk_parity" -> {
        val steps = (1 to 4).map { i =>
          // every step CTE MATERIALIZED: each level references the
          // previous one ~5x, and DuckDB 1.0 inlines non-materialized
          // CTEs per reference — 5^4 plan copies hang the optimizer.
          s"""r$i AS MATERIALIZED (
             |  SELECT c.ta, sum(cq * wq) AS rc
             |  FROM c JOIN w${i - 1} ON c.tb = w${i - 1}.event_type
             |  GROUP BY c.ta
             |), t$i AS MATERIALIZED (
             |  SELECT r$i.ta, wq,
             |    sqrt(CAST(wq AS DOUBLE) / CAST(greatest(rc, 1) AS DOUBLE)) AS u
             |  FROM r$i JOIN w${i - 1} ON r$i.ta = w${i - 1}.event_type
             |), m$i AS MATERIALIZED (SELECT max(u) AS mx FROM t$i),
             |q$i AS MATERIALIZED (
             |  SELECT ta, CAST(floor(u / mx * 1e12 + 0.5) AS BIGINT) AS uq
             |  FROM t$i CROSS JOIN m$i
             |), s$i AS MATERIALIZED (SELECT CAST(sum(uq) AS BIGINT) AS su FROM q$i),
             |w$i AS MATERIALIZED (
             |  SELECT ta AS event_type,
             |    CAST(floor(CAST(uq AS DOUBLE) / CAST(su AS DOUBLE)
             |      * 1e8 + 0.5) AS BIGINT) AS wq
             |  FROM q$i CROSS JOIN s$i
             |)""".stripMargin
        }.mkString(", ")
        s"""$R_CTE, x AS (
          |  SELECT event_type,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY ts, event_id) AS rn,
          |    CASE WHEN ret IS NOT NULL
          |      THEN CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) END AS q
          |  FROM r
          |), pm AS (
          |  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n,
          |    CAST(sum(a.q) AS BIGINT) AS sa, CAST(sum(b.q) AS BIGINT) AS sb,
          |    sum(CAST(a.q AS HUGEINT) * b.q) AS sab
          |  FROM x a JOIN x b ON a.rn = b.rn
          |  WHERE a.q IS NOT NULL AND b.q IS NOT NULL
          |  GROUP BY 1, 2
          |), c AS MATERIALIZED (
          |  -- MATERIALIZED: referenced by every unrolled round; inlining
          |  -- re-opens the scan chain per reference (fd exhaustion).
          |  SELECT ta, tb,
          |    CAST(floor(CAST(n * sab - CAST(sa AS HUGEINT) * sb AS DOUBLE)
          |      / (CAST(n AS DOUBLE) * (n - 1.0)) + 0.5) AS HUGEINT) AS cq
          |  FROM pm
          |), kk AS (
          |  SELECT CAST(count(*) AS BIGINT) AS k FROM c WHERE ta = tb
          |), w0 AS MATERIALIZED (
          |  SELECT ta AS event_type, CAST(floor(1e8 / k + 0.5) AS BIGINT) AS wq
          |  FROM c CROSS JOIN kk WHERE ta = tb
          |), $steps, rf AS (
          |  SELECT c.ta, sum(cq * wq) AS rc
          |  FROM c JOIN w4 ON c.tb = w4.event_type GROUP BY c.ta
          |), f AS (
          |  SELECT rf.ta, wq, rc * wq AS wr
          |  FROM rf JOIN w4 ON rf.ta = w4.event_type
          |), tot AS (SELECT sum(wr) AS twr FROM f)
          |SELECT ta AS event_type,
          |  round(wq / 1e8, 6) + 0.0 AS weight,
          |  round(CAST(wr AS DOUBLE) / CAST(twr AS DOUBLE), 4) + 0.0
          |    AS risk_share,
          |  round(sqrt(CAST(greatest(twr, 0) AS DOUBLE)) / 1e8 / 1e6, 6)
          |    + 0.0 AS port_vol
          |FROM f CROSS JOIN tot ORDER BY event_type""".stripMargin
      },
      // op 316: identical quantized moments (hugeint = the Spark
      // side's decimal) and identical double parenthesization of the
      // 2×2 normal-equation algebra — deterministic on the same
      // integers, so the rounded coefficients match bit-for-bit.
      "eod_factor_ols" ->
        s"""$R_CTE, x AS (
          |  SELECT event_type,
          |    CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS q,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY ts, event_id) AS rn
          |  FROM r WHERE ret IS NOT NULL
          |), f AS (
          |  SELECT rn,
          |    max(CASE WHEN event_type = 'click' THEN q END) AS x1,
          |    max(CASE WHEN event_type = 'view' THEN q END) AS x2
          |  FROM x WHERE event_type IN ('click', 'view') GROUP BY rn
          |), fok AS (
          |  SELECT * FROM f WHERE x1 IS NOT NULL AND x2 IS NOT NULL
          |), a AS (
          |  SELECT event_type, count(*) AS n,
          |    sum(x1) AS s1, sum(x2) AS s2, sum(q) AS sy,
          |    sum(CAST(x1 AS HUGEINT) * x1) AS s11,
          |    sum(CAST(x2 AS HUGEINT) * x2) AS s22,
          |    sum(CAST(x1 AS HUGEINT) * x2) AS s12,
          |    sum(CAST(x1 AS HUGEINT) * q) AS s1y,
          |    sum(CAST(x2 AS HUGEINT) * q) AS s2y,
          |    sum(CAST(q AS HUGEINT) * q) AS syy
          |  FROM x JOIN fok USING (rn)
          |  WHERE event_type NOT IN ('click', 'view')
          |  GROUP BY event_type
          |), m AS (
          |  SELECT event_type, n,
          |    CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
          |    CAST(sy AS DOUBLE) AS syd,
          |    CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n AS a11,
          |    CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n AS a22,
          |    CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / n AS a12,
          |    CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / n AS c1y,
          |    CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / n AS c2y,
          |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cyy
          |  FROM a
          |), b AS (
          |  SELECT event_type, n, s1d, s2d, syd, c1y, c2y, cyy,
          |    a11 * a22 - a12 * a12 AS det,
          |    (a22 * c1y - a12 * c2y) / (a11 * a22 - a12 * a12) AS b1,
          |    (a11 * c2y - a12 * c1y) / (a11 * a22 - a12 * a12) AS b2
          |  FROM m
          |)
          |SELECT event_type, n,
          |  CASE WHEN det > 0 THEN round(b1, 6) + 0.0 END AS beta_click,
          |  CASE WHEN det > 0 THEN round(b2, 6) + 0.0 END AS beta_view,
          |  CASE WHEN det > 0 THEN
          |    round((syd - b1 * s1d - b2 * s2d) / n / 1000000.0, 6) + 0.0
          |  END AS alpha,
          |  CASE WHEN det > 0 AND cyy > 0 THEN
          |    round((b1 * c1y + b2 * c2y) / cyy, 6) + 0.0
          |  END AS r2
          |FROM b ORDER BY event_type""".stripMargin,
      "text_zipf" ->
        """WITH tk AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
          |f AS (SELECT source, tok, count(*) AS cnt FROM tk GROUP BY 1, 2),
          |r AS (SELECT source, tok, cnt,
          |  row_number() OVER (PARTITION BY source ORDER BY cnt DESC, tok) AS rnk
          |  FROM f)
          |SELECT source,
          |  round(regr_slope(ln(cnt), ln(rnk)), 6) + 0.0 AS zipf_slope,
          |  round(corr(ln(cnt), ln(rnk)), 6) + 0.0 AS zipf_r,
          |  count(*) AS n_types
          |FROM r WHERE rnk <= 30 GROUP BY source ORDER BY source""".stripMargin,
      // op 396: same character-class strips ('g' flag — DuckDB
      // replaces first match by default), same token keyword list.
      "text_code_detection" ->
        """WITH t AS (
          |  SELECT doc_id, text, length(text) AS n_chars,
          |    length(text) - length(regexp_replace(text, '[{}();=<>\[\]#]', '', 'g')) AS sym,
          |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
          |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
          |      x -> x IN ('def','class','return','import','if','else',
          |                 'for','while','function','var','int','void'))) AS kw
          |  FROM documents WHERE length(text) > 0
          |)
          |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
          |  floor(sym::DOUBLE / n_chars::DOUBLE * 1e6 + 0.5) / 1e6 AS sym_ratio,
          |  floor(digits::DOUBLE / n_chars::DOUBLE * 1e6 + 0.5) / 1e6 AS digit_ratio,
          |  CAST(kw AS BIGINT) AS kw_hits,
          |  CAST(CASE WHEN floor(sym::DOUBLE / n_chars::DOUBLE * 1e6 + 0.5) / 1e6 > 0.05
          |    OR kw >= 3 THEN 1 ELSE 0 END AS BIGINT) AS is_code
          |FROM t ORDER BY doc_id""".stripMargin,
      // op 382: identical integer VMR algebra, the same top-50 by
      // (total desc, term) cut.
      "text_term_burstiness" ->
        """WITH tk AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          |  FROM documents
          |), tc AS (
          |  SELECT doc_id, term, count(*) AS c FROM tk GROUP BY doc_id, term
          |), per AS (
          |  SELECT term, count(*) AS df, CAST(sum(c) AS BIGINT) AS total,
          |    CAST(sum(c * c) AS BIGINT) AS c2
          |  FROM tc GROUP BY term
          |), nd AS (SELECT count(*) AS nd FROM documents)
          |SELECT term, df, total,
          |  floor(CAST(total AS DOUBLE) / CAST(df AS DOUBLE) * 1e6 + 0.5)
          |    / 1e6 AS mean_per_doc,
          |  floor((CAST(nd AS DOUBLE) * CAST(c2 AS DOUBLE)
          |    - CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
          |    / (CAST(nd AS DOUBLE) * CAST(total AS DOUBLE)) * 1e6 + 0.5)
          |    / 1e6 AS vmr
          |FROM per CROSS JOIN nd
          |WHERE df >= 5
          |ORDER BY total DESC, term LIMIT 50""".stripMargin,
      // op 392: the op-71 bigram chain re-aggregated to top-100 mass
      // share per language.
      "corpus_ngram_coverage" ->
        """WITH t AS (SELECT lang, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
          |g0 AS (
          |  SELECT lang, unnest(list_transform(range(1, greatest(len(toks)-1, 1) + 1),
          |    i -> array_to_string(toks[i:i+1], ' '))) AS ng
          |  FROM t
          |), c AS (SELECT lang, ng, count(*) AS n FROM g0 GROUP BY lang, ng),
          |r AS (
          |  SELECT lang, n,
          |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, ng) AS rnk
          |  FROM c
          |)
          |SELECT lang, CAST(sum(n) AS BIGINT) AS total_bigrams,
          |  count(*) AS distinct_bigrams,
          |  floor(sum(CASE WHEN rnk <= 100 THEN n ELSE 0 END)::DOUBLE
          |    / sum(n)::DOUBLE * 1e6 + 0.5) / 1e6 AS top100_coverage
          |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
      "text_top_ngrams" ->
        """WITH t AS (SELECT lang, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
          |g AS (
          |  SELECT lang, unnest(list_transform(range(1, greatest(len(toks)-1, 1) + 1),
          |    i -> array_to_string(toks[i:i+1], ' '))) AS ng
          |  FROM t
          |), c AS (SELECT lang, ng, count(*) AS n FROM g GROUP BY lang, ng),
          |r AS (
          |  SELECT lang, ng, n,
          |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, ng) AS rnk
          |  FROM c
          |)
          |SELECT lang, rnk, ng, n FROM r WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin,
      // op 289: same (n, Σx, Σx²) moment algebra, same 1.96 literal.
      "stats_welch_ttest" ->
        s"""$R_CTE, g AS (
          |  SELECT event_type, count(*) AS n, sum(ret) AS sr,
          |    sum(ret * ret) AS qr
          |  FROM r WHERE ret IS NOT NULL GROUP BY event_type
          |), m AS (
          |  SELECT event_type, n, sr / n AS m,
          |    (qr - sr * sr / n) / (n - 1.0) AS v
          |  FROM g
          |), j AS (
          |  SELECT a.event_type, a.n, b.n AS nb,
          |    (a.m - b.m) / sqrt(a.v / a.n + b.v / b.n) AS t,
          |    (a.v / a.n + b.v / b.n) * (a.v / a.n + b.v / b.n) /
          |      ((a.v / a.n) * (a.v / a.n) / (a.n - 1.0)
          |       + (b.v / b.n) * (b.v / b.n) / (b.n - 1.0)) AS dfw
          |  FROM m a CROSS JOIN m b
          |  WHERE a.event_type <> 'view' AND b.event_type = 'view'
          |)
          |SELECT event_type, n, nb,
          |  round(t, 6) AS t_stat,
          |  round(dfw, 2) AS df_welch,
          |  CAST(CASE WHEN abs(round(t, 6)) > 1.959963984540054
          |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
          |FROM j ORDER BY event_type""".stripMargin,
      // op 290: same partial-sum decomposition, single-row output.
      "stats_anova" ->
        s"""$R_CTE, g AS (
          |  SELECT event_type, count(*) AS n, sum(ret) AS s,
          |    sum(ret * ret) AS q
          |  FROM r WHERE ret IS NOT NULL GROUP BY event_type
          |), a AS (
          |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n,
          |    sum(s) AS ts, sum(q) AS tq,
          |    sum(s * s / n) AS sb
          |  FROM g
          |)
          |SELECT k, n,
          |  round(((sb - ts * ts / n) / (k - 1.0)) /
          |        ((tq - sb) / (CAST(n AS DOUBLE) - k)), 6) AS f_stat,
          |  round((sb - ts * ts / n) / (tq - ts * ts / n), 8) AS eta_sq
          |FROM a""".stripMargin,
      // op 302: same R-7 group medians (join-back form), same op-290
      // partial-sum F algebra on the absolute deviations.
      "stats_levene" ->
        s"""$R_CTE, m AS (
          |  SELECT event_type, quantile_cont(ret, 0.5) AS med
          |  FROM r WHERE ret IS NOT NULL GROUP BY event_type
          |), z AS (
          |  SELECT r.event_type, abs(ret - med) AS z
          |  FROM r JOIN m ON r.event_type = m.event_type
          |  WHERE ret IS NOT NULL
          |), g AS (
          |  SELECT event_type, count(*) AS n, sum(z) AS s, sum(z * z) AS q
          |  FROM z GROUP BY event_type
          |), a AS (
          |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n,
          |    sum(s) AS ts, sum(q) AS tq, sum(s * s / n) AS sb
          |  FROM g
          |)
          |SELECT k, n,
          |  round(((sb - ts * ts / n) / (k - 1.0)) /
          |        ((tq - sb) / (CAST(n AS DOUBLE) - k)), 6) AS f_stat,
          |  CAST(CASE WHEN round(((sb - ts * ts / n) / (k - 1.0)) /
          |        ((tq - sb) / (CAST(n AS DOUBLE) - k)), 6) > 2.3719
          |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
          |FROM a""".stripMargin,
      // op 380: identical exact-moment group variances, the same ln
      // composition and Bartlett C correction.
      "stats_bartlett" ->
        s"""$R_CTE, q AS (
          |  SELECT event_type, CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS qr
          |  FROM r WHERE ret IS NOT NULL
          |), g AS (
          |  SELECT count(*) AS n,
          |    (CAST(count(*) AS DOUBLE) *
          |       CAST(sum(CAST(qr AS DECIMAL(38,0)) * CAST(qr AS DECIMAL(38,0))) AS DOUBLE)
          |     - CAST(sum(qr) AS DOUBLE) * CAST(sum(qr) AS DOUBLE))
          |    / (CAST(count(*) AS DOUBLE) * CAST(count(*) - 1 AS DOUBLE)) AS s2
          |  FROM q GROUP BY event_type
          |), a AS (
          |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n_total,
          |    sum(CAST(n - 1 AS DOUBLE) * s2) AS pool_num,
          |    sum(CAST(n - 1 AS DOUBLE) * ln(s2)) AS sum_ln,
          |    sum(1.0 / CAST(n - 1 AS DOUBLE)) AS sum_inv
          |  FROM g
          |), t AS (
          |  SELECT k, n_total,
          |    ((CAST(n_total AS DOUBLE) - k) * ln(pool_num / (CAST(n_total AS DOUBLE) - k))
          |      - sum_ln)
          |    / (1.0 + (sum_inv - 1.0 / (CAST(n_total AS DOUBLE) - k))
          |              / (3.0 * (CAST(k AS DOUBLE) - 1.0))) AS chi2
          |  FROM a
          |)
          |SELECT k, n_total, CAST(k - 1 AS BIGINT) AS df,
          |  round(chi2, 6) AS chi2,
          |  CAST(CASE WHEN round(chi2, 6) > 9.487729 THEN 1 ELSE 0 END
          |    AS BIGINT) AS reject_95
          |FROM t""".stripMargin,
      // op 378: the same integer max-deviation and exact-moment σ,
      // the same monotone G→τ map.
      "stats_grubbs" ->
        s"""$R_CTE, q AS (
          |  SELECT event_type, CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS qr
          |  FROM r WHERE ret IS NOT NULL
          |), m AS (
          |  SELECT event_type, count(*) AS n, CAST(sum(qr) AS BIGINT) AS sq,
          |    sqrt(greatest(
          |      (CAST(count(*) AS DOUBLE) *
          |         CAST(sum(CAST(qr AS DECIMAL(38,0)) * CAST(qr AS DECIMAL(38,0))) AS DOUBLE)
          |       - CAST(sum(qr) AS DOUBLE) * CAST(sum(qr) AS DOUBLE))
          |      / (CAST(count(*) AS DOUBLE) * CAST(count(*) - 1 AS DOUBLE)),
          |      0.0)) AS sigq
          |  FROM q GROUP BY event_type
          |), g AS (
          |  SELECT q.event_type, max(m.n) AS n, max(m.sigq) AS sig,
          |    max(abs(m.n * qr - sq)) AS maxdev
          |  FROM q JOIN m ON q.event_type = m.event_type
          |  GROUP BY q.event_type
          |), t AS (
          |  SELECT event_type, n, CAST(n - 2 AS BIGINT) AS df,
          |    CAST(maxdev AS DOUBLE) / (CAST(n AS DOUBLE) * sig) AS g0
          |  FROM g
          |)
          |SELECT event_type, n, df,
          |  round(g0, 6) AS g_stat,
          |  round(CASE WHEN (CAST(n AS DOUBLE) - 1.0) * (CAST(n AS DOUBLE) - 1.0)
          |      - CAST(n AS DOUBLE) * g0 * g0 > 0
          |    THEN sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 2.0) * g0 * g0
          |      / ((CAST(n AS DOUBLE) - 1.0) * (CAST(n AS DOUBLE) - 1.0)
          |         - CAST(n AS DOUBLE) * g0 * g0)) END, 6) AS tau
          |FROM t ORDER BY event_type""".stripMargin,
      // op 379: the same daily-mean grid, pairwise slopes, exact
      // interpolating median (values, not order).
      "stats_theil_sen" ->
        """WITH daily AS (
          |  SELECT event_type,
          |    CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          |      AS BIGINT) AS d,
          |    CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
          |      / count(*) / 1e6 AS m
          |  FROM events
          |  GROUP BY event_type,
          |    CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0) AS BIGINT)
          |), s AS (
          |  SELECT a.event_type,
          |    (b.m - a.m) / CAST(b.d - a.d AS DOUBLE) AS slope
          |  FROM daily a JOIN daily b
          |    ON a.event_type = b.event_type AND a.d < b.d
          |)
          |SELECT event_type, count(*) AS n_pairs,
          |  round(quantile_cont(slope, 0.5), 6) AS ts_slope
          |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin,
      // op 403: same daily means, trailing-14-day window membership
      // via generate_series, per-(series, end day) interpolated
      // median; emitted only for end days present in the data.
      "stats_theil_sen_windowed" ->
        """WITH daily AS (
          |  SELECT event_type,
          |    CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          |      AS BIGINT) AS d,
          |    CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
          |      / count(*) / 1e6 AS m
          |  FROM events
          |  GROUP BY event_type,
          |    CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0) AS BIGINT)
          |), member AS (
          |  SELECT event_type, d, m,
          |    unnest(generate_series(d, d + 13)) AS w
          |  FROM daily
          |), s AS (
          |  SELECT a.event_type, a.w,
          |    (b.m - a.m) / CAST(b.d - a.d AS DOUBLE) AS slope
          |  FROM member a JOIN member b
          |    ON a.event_type = b.event_type AND a.w = b.w AND a.d < b.d
          |), g AS (
          |  SELECT event_type, w, count(*) AS n_pairs,
          |    round(quantile_cont(slope, 0.5), 6) AS ts_slope
          |  FROM s GROUP BY event_type, w
          |)
          |SELECT g.event_type, g.w AS end_day, g.n_pairs, g.ts_slope
          |FROM g JOIN daily ON daily.event_type = g.event_type
          |  AND daily.d = g.w
          |ORDER BY g.event_type, end_day""".stripMargin,
      // op 387: grand interpolated median, 2×k counts, the Σ O²/E − N
      // identity.
      "stats_mood_median" ->
        s"""$R_CTE, q AS (
          |  SELECT event_type, CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS qr
          |  FROM r WHERE ret IS NOT NULL
          |), med AS (SELECT quantile_cont(qr, 0.5) AS gm FROM q),
          |per AS (
          |  SELECT event_type,
          |    CAST(sum(CASE WHEN CAST(qr AS DOUBLE) > gm THEN 1 ELSE 0 END)
          |      AS BIGINT) AS a,
          |    CAST(sum(CASE WHEN CAST(qr AS DOUBLE) <= gm THEN 1 ELSE 0 END)
          |      AS BIGINT) AS b,
          |    max(gm) AS gm
          |  FROM q CROSS JOIN med GROUP BY event_type
          |), t AS (
          |  SELECT count(*) AS k, CAST(sum(a + b) AS BIGINT) AS n,
          |    CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb,
          |    max(gm) AS gm,
          |    sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
          |        / CAST(a + b AS DOUBLE)) AS saa,
          |    sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)
          |        / CAST(a + b AS DOUBLE)) AS sbb
          |  FROM per
          |), f AS (
          |  SELECT k, n, gm,
          |    CAST(n AS DOUBLE) * saa / CAST(ta AS DOUBLE)
          |      + CAST(n AS DOUBLE) * sbb / CAST(tb AS DOUBLE)
          |      - CAST(n AS DOUBLE) AS chi2
          |  FROM t
          |)
          |SELECT k, n, CAST(k - 1 AS BIGINT) AS df,
          |  round(gm / 1e6, 6) AS grand_median,
          |  round(chi2, 6) AS chi2,
          |  CAST(CASE WHEN round(chi2, 6) > 9.487729 THEN 1 ELSE 0 END
          |    AS BIGINT) AS reject_95
          |FROM f""".stripMargin,
      // op 394: the same integer |n·P_t − t·S_n| deviation, argmax by
      // (d DESC, rn) — engine-exact; exact-moment σ, identical stat.
      "stats_changepoint" ->
        s"""$R_CTE, q AS (
          |  SELECT event_type,
          |    CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS qr,
          |    row_number() OVER w AS rn,
          |    sum(CAST(floor(ret * 1e6 + 0.5) AS BIGINT)) OVER (
          |      PARTITION BY event_type ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
          |  FROM r WHERE ret IS NOT NULL
          |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
          |), tot AS (
          |  SELECT event_type, max(rn) AS n, CAST(sum(qr) AS BIGINT) AS sn,
          |    sum(CAST(qr AS DECIMAL(38,0)) * CAST(qr AS DECIMAL(38,0))) AS s2
          |  FROM q GROUP BY event_type
          |), j AS (
          |  SELECT q.event_type, q.rn, tot.n, tot.sn, tot.s2,
          |    abs(CAST(q.p AS DECIMAL(38,0)) * tot.n
          |      - CAST(tot.sn AS DECIMAL(38,0)) * q.rn) AS d,
          |    row_number() OVER (PARTITION BY q.event_type
          |      ORDER BY abs(CAST(q.p AS DECIMAL(38,0)) * tot.n
          |        - CAST(tot.sn AS DECIMAL(38,0)) * q.rn) DESC, q.rn) AS rk
          |  FROM q JOIN tot ON tot.event_type = q.event_type
          |), t AS (
          |  SELECT event_type, n, rn AS cp_rn,
          |    CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
          |      / sqrt(greatest((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
          |          - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))
          |          / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 0.0))
          |      / sqrt(CAST(n AS DOUBLE)) AS stat
          |  FROM j WHERE rk = 1
          |)
          |SELECT event_type, n, CAST(cp_rn AS BIGINT) AS cp_rn,
          |  round(stat, 6) AS cusum_stat,
          |  CAST(CASE WHEN round(stat, 6) > 1.358 THEN 1 ELSE 0 END
          |    AS BIGINT) AS breach_95
          |FROM t ORDER BY event_type""".stripMargin,
      // op 395: the op-225 dense-grid cumulatives in doubled units,
      // the same exact-integer A²akN terms.
      "stats_ad_2sample" ->
        s"""$R_CTE, q0 AS (
          |  SELECT event_type, CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS q
          |  FROM r WHERE ret IS NOT NULL
          |), cnt AS (SELECT event_type, q, count(*) AS c FROM q0 GROUP BY 1, 2),
          |grid AS (SELECT DISTINCT q FROM cnt),
          |types AS (SELECT DISTINCT event_type FROM cnt),
          |dense AS (
          |  SELECT t.event_type, g.q, COALESCE(c.c, 0) AS c
          |  FROM grid g CROSS JOIN types t
          |  LEFT JOIN cnt c ON c.event_type = t.event_type AND c.q = g.q
          |), cum AS (
          |  SELECT event_type, q, c,
          |    sum(c) OVER (PARTITION BY event_type ORDER BY q
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
          |  FROM dense
          |), tot AS (SELECT event_type, count(*) AS nt FROM q0 GROUP BY 1),
          |sa AS (SELECT c.event_type, c.q, c.c AS ha, c.cc AS ca, t.nt AS na
          |       FROM cum c JOIN tot t USING (event_type) WHERE c.event_type <> 'view'),
          |sb AS (SELECT c.q, c.c AS hb, c.cc AS cb, t.nt AS nb
          |       FROM cum c JOIN tot t USING (event_type) WHERE c.event_type = 'view'),
          |m AS (
          |  SELECT sa.event_type, sa.na, sb.nb,
          |    sa.na + sb.nb AS nn, sa.ha + sb.hb AS h,
          |    2 * (sa.ca + sb.cb) - (sa.ha + sb.hb) AS b2,
          |    2 * sa.ca - sa.ha AS ma2, 2 * sb.cb - sb.hb AS mb2
          |  FROM sa JOIN sb USING (q)
          |  WHERE sa.ha + sb.hb > 0
          |), terms AS (
          |  SELECT event_type, na, nb,
          |    CASE WHEN CAST(b2 AS DECIMAL(38,0)) * (2 * nn - b2)
          |        - CAST(nn AS DECIMAL(38,0)) * h > 0
          |      THEN CAST(h AS DOUBLE) * CAST(
          |        (CAST(nn AS DECIMAL(38,0)) * ma2 - CAST(na AS DECIMAL(38,0)) * b2) *
          |        (CAST(nn AS DECIMAL(38,0)) * ma2 - CAST(na AS DECIMAL(38,0)) * b2)
          |        AS DOUBLE)
          |        / (CAST(nn AS DOUBLE) * CAST(CAST(b2 AS DECIMAL(38,0)) * (2 * nn - b2)
          |            - CAST(nn AS DECIMAL(38,0)) * h AS DOUBLE))
          |      ELSE 0.0 END AS ta,
          |    CASE WHEN CAST(b2 AS DECIMAL(38,0)) * (2 * nn - b2)
          |        - CAST(nn AS DECIMAL(38,0)) * h > 0
          |      THEN CAST(h AS DOUBLE) * CAST(
          |        (CAST(nn AS DECIMAL(38,0)) * mb2 - CAST(nb AS DECIMAL(38,0)) * b2) *
          |        (CAST(nn AS DECIMAL(38,0)) * mb2 - CAST(nb AS DECIMAL(38,0)) * b2)
          |        AS DOUBLE)
          |        / (CAST(nn AS DOUBLE) * CAST(CAST(b2 AS DECIMAL(38,0)) * (2 * nn - b2)
          |            - CAST(nn AS DECIMAL(38,0)) * h AS DOUBLE))
          |      ELSE 0.0 END AS tb
          |  FROM m
          |)
          |SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
          |  round(CAST(max(na) + max(nb) - 1 AS DOUBLE)
          |    / CAST(max(na) + max(nb) AS DOUBLE)
          |    * (sum(ta) / CAST(max(na) AS DOUBLE)
          |      + sum(tb) / CAST(max(nb) AS DOUBLE)), 6) AS ad_stat
          |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,
      // op 297: global-window midranks on the same integer grid (the
      // oracle may rank globally; the Spark side two-levels it), the
      // identical H and tie-correction algebra.
      "stats_kruskal" ->
        s"""$R_CTE, qq AS (
          |  SELECT event_type,
          |    CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS q
          |  FROM r WHERE ret IS NOT NULL
          |), qc AS (
          |  SELECT q, count(*) AS c FROM qq GROUP BY q
          |), mr AS (
          |  SELECT q, c, sum(c) OVER (ORDER BY q
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM qc
          |), mid AS (
          |  SELECT q, c, CAST(cum - c + 1 + cum AS DOUBLE) / 2.0 AS mid
          |  FROM mr
          |), gq AS (
          |  SELECT event_type, q, count(*) AS cg FROM qq GROUP BY 1, 2
          |), rg AS (
          |  SELECT event_type, sum(cg * mid) AS rgsum,
          |    CAST(sum(cg) AS BIGINT) AS ng
          |  FROM gq JOIN mid USING (q) GROUP BY 1
          |), tt AS (
          |  SELECT CAST(sum(c * c * c - c) AS BIGINT) AS t FROM qc
          |), a AS (
          |  SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
          |    sum(rgsum * rgsum / ng) AS s
          |  FROM rg
          |)
          |SELECT k, n,
          |  round(12.0 / (n * (n + 1.0)) * s - 3.0 * (n + 1.0), 6) AS h_stat,
          |  round(1.0 - CAST(t AS DOUBLE) /
          |    (CAST(n AS DOUBLE) * n * n - n), 8) AS tie_correction,
          |  round((12.0 / (n * (n + 1.0)) * s - 3.0 * (n + 1.0)) /
          |    (1.0 - CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)), 6)
          |    AS h_adj
          |FROM a CROSS JOIN tt""".stripMargin,
      // op 340: identical midrank-doubling (d = 2·rank + peers − 1 via
      // the RANGE-peers frame), exact decimal moments, identical Q
      // algebra on identical integers.
      "stats_friedman" ->
        s"""$R_CTE, x AS (
          |  SELECT event_type,
          |    CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS rq,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY ts, event_id) AS rn
          |  FROM r WHERE ret IS NOT NULL
          |), kk AS (
          |  SELECT count(DISTINCT event_type) AS k FROM x
          |), b AS (
          |  SELECT x.*, count(*) OVER (PARTITION BY rn) AS bc FROM x
          |), c AS (
          |  SELECT event_type, rn,
          |    2 * rank() OVER (PARTITION BY rn ORDER BY rq)
          |      + count(*) OVER (PARTITION BY rn ORDER BY rq
          |          RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1 AS d
          |  FROM b, kk WHERE bc = k
          |), pj AS (
          |  SELECT event_type, CAST(sum(d) AS BIGINT) AS dj FROM c GROUP BY 1
          |), tot AS (
          |  SELECT CAST(sum(CAST(d AS DECIMAL(38,0)) * d) AS DECIMAL(38,0))
          |      AS sd2,
          |    CAST(count(*) // (SELECT k FROM kk) AS BIGINT) AS n
          |  FROM c
          |), sj AS (
          |  SELECT CAST(sum(CAST(dj AS DECIMAL(38,0)) * dj) AS DECIMAL(38,0))
          |    AS sdj2 FROM pj
          |), a AS (
          |  SELECT k, n, sd2, sdj2,
          |    CAST(n AS DECIMAL(38,0)) * k * (k+1) * (k+1) AS cden
          |  FROM tot, sj, kk
          |)
          |SELECT CAST(k AS BIGINT) AS k, n,
          |  round((k - 1) * CAST(sdj2 - cden * n AS DOUBLE)
          |    / CAST(sd2 - cden AS DOUBLE), 6) AS q_stat,
          |  CAST(CASE WHEN round((k - 1) * CAST(sdj2 - cden * n AS DOUBLE)
          |    / CAST(sd2 - cden AS DOUBLE), 6)
          |    > 9.4877 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
          |FROM a""".stripMargin,
      // op 353: the op-297 global-midrank CTEs + the k² pair join,
      // identical S² and z algebra.
      "stats_dunn" ->
        s"""$R_CTE, qq AS (
          |  SELECT event_type,
          |    CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS q
          |  FROM r WHERE ret IS NOT NULL
          |), qc AS (
          |  SELECT q, count(*) AS c FROM qq GROUP BY q
          |), mr AS (
          |  SELECT q, c, sum(c) OVER (ORDER BY q
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM qc
          |), mid AS (
          |  SELECT q, c, CAST(cum - c + 1 + cum AS DOUBLE) / 2.0 AS mid
          |  FROM mr
          |), gq AS (
          |  SELECT event_type, q, count(*) AS cg FROM qq GROUP BY 1, 2
          |), rg AS (
          |  SELECT event_type, sum(cg * mid) AS rgsum,
          |    CAST(sum(cg) AS BIGINT) AS ng
          |  FROM gq JOIN mid USING (q) GROUP BY 1
          |), tt AS (
          |  SELECT CAST(sum(c * c * c - c) AS BIGINT) AS t FROM qc
          |), tot AS (
          |  SELECT CAST(sum(ng) AS BIGINT) AS nn FROM rg
          |), z AS (
          |  SELECT a.event_type AS g1, b.event_type AS g2,
          |    (a.rgsum / a.ng - b.rgsum / b.ng) /
          |      sqrt((nn * (nn + 1.0) / 12.0 - t / (12.0 * (nn - 1.0)))
          |        * (1.0 / a.ng + 1.0 / b.ng)) AS zz
          |  FROM rg a JOIN rg b ON a.event_type < b.event_type, tt, tot
          |)
          |SELECT g1, g2, round(zz, 6) AS z_stat,
          |  CAST(CASE WHEN abs(round(zz, 6)) > 2.807 THEN 1 ELSE 0 END
          |    AS BIGINT) AS reject_bonf_95
          |FROM z ORDER BY g1, g2""".stripMargin,
      // op 354: same daily counts, same R-7 med/MAD, identical z.
      "events_anomaly_days" ->
        """WITH d AS (
          |  SELECT epoch_us(date_trunc('day', ts)) AS day_us,
          |    count(*) AS n
          |  FROM events GROUP BY 1
          |), m AS (SELECT quantile_cont(n, 0.5) AS med FROM d),
          |md AS (
          |  SELECT quantile_cont(abs(n - med), 0.5) AS mad FROM d, m
          |)
          |SELECT day_us, n,
          |  round(CASE WHEN mad > 0
          |    THEN (n - med) / (1.4826 * mad) END, 6) AS z_mod,
          |  CAST(CASE WHEN abs(round(CASE WHEN mad > 0
          |    THEN (n - med) / (1.4826 * mad) END, 6)) > 3.0
          |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
          |FROM d, m, md ORDER BY day_us""".stripMargin,
      // op 359: the op-340 block-midrank CTEs + the alphabetical-
      // position self-join, identical L/μ/σ algebra.
      "stats_page_trend" ->
        s"""$R_CTE, x AS (
          |  SELECT event_type,
          |    CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS rq,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY ts, event_id) AS rn
          |  FROM r WHERE ret IS NOT NULL
          |), kk AS (
          |  SELECT count(DISTINCT event_type) AS k FROM x
          |), b AS (
          |  SELECT x.*, count(*) OVER (PARTITION BY rn) AS bc FROM x
          |), c AS (
          |  SELECT event_type, rn,
          |    2 * rank() OVER (PARTITION BY rn ORDER BY rq)
          |      + count(*) OVER (PARTITION BY rn ORDER BY rq
          |          RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1 AS d
          |  FROM b, kk WHERE bc = k
          |), pj AS (
          |  SELECT event_type, CAST(sum(d) AS BIGINT) AS dj,
          |    CAST(count(*) AS BIGINT) AS nblk
          |  FROM c GROUP BY 1
          |), cj AS (
          |  SELECT a.event_type, CAST(count(b.event_type) + 1 AS BIGINT)
          |    AS cj
          |  FROM pj a LEFT JOIN pj b ON b.event_type < a.event_type
          |  GROUP BY 1
          |), a AS (
          |  SELECT CAST(sum(cj.cj * pj.dj) AS BIGINT) AS l2,
          |    (SELECT k FROM kk) AS k,
          |    CAST(min(nblk) AS BIGINT) AS n
          |  FROM pj JOIN cj USING (event_type)
          |), z AS (
          |  SELECT k, n, CAST(l2 AS DOUBLE) / 2.0 AS l,
          |    (CAST(l2 AS DOUBLE) / 2.0
          |      - n * k * (k + 1.0) * (k + 1.0) / 4.0)
          |    / sqrt(CAST(n AS DOUBLE) * k * k * (k + 1.0) * (k + 1.0)
          |        * (k - 1.0) / 144.0) AS zz
          |  FROM a
          |)
          |SELECT CAST(k AS BIGINT) AS k, n,
          |  round(l, 1) AS l_stat, round(zz, 6) AS z_stat,
          |  CAST(CASE WHEN abs(round(zz, 6)) > 1.96 THEN 1 ELSE 0 END
          |    AS BIGINT) AS reject_95
          |FROM z""".stripMargin,
      // op 363: same probe grid, per-group cumulative, pair join, and
      // tie-naive normal algebra.
      "stats_jonckheere" ->
        s"""$R_CTE, qq AS (
          |  SELECT event_type,
          |    CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS q
          |  FROM r WHERE ret IS NOT NULL
          |), gq AS (
          |  SELECT event_type, q, CAST(count(*) AS BIGINT) AS cg
          |  FROM qq GROUP BY 1, 2
          |), grid AS (
          |  SELECT g.event_type, v.q
          |  FROM (SELECT DISTINCT q FROM qq) v
          |  CROSS JOIN (SELECT DISTINCT event_type FROM qq) g
          |), f AS (
          |  SELECT grid.event_type, grid.q, coalesce(gq.cg, 0) AS cg
          |  FROM grid LEFT JOIN gq USING (event_type, q)
          |), cum AS (
          |  SELECT event_type, q, cg,
          |    sum(cg) OVER (PARTITION BY event_type ORDER BY q
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cg
          |      AS cumlt
          |  FROM f
          |), j AS (
          |  SELECT CAST(sum(b.cg * (2 * a.cumlt + a.cg)) AS BIGINT) AS j2
          |  FROM cum a JOIN gq b ON a.q = b.q AND a.event_type < b.event_type
          |), ns AS (
          |  SELECT CAST(sum(n) AS BIGINT) AS nn,
          |    CAST(sum(n * n) AS BIGINT) AS sn2,
          |    CAST(sum(n * n * (2 * n + 3)) AS BIGINT) AS snn,
          |    CAST(count(*) AS BIGINT) AS k
          |  FROM (SELECT event_type, CAST(sum(cg) AS BIGINT) AS n
          |        FROM gq GROUP BY 1)
          |), z AS (
          |  SELECT k, nn, CAST(j2 AS DOUBLE) / 2.0 AS jd,
          |    (CAST(j2 AS DOUBLE) / 2.0
          |      - (CAST(nn AS DOUBLE) * nn - sn2) / 4.0)
          |    / sqrt((CAST(nn AS DOUBLE) * nn * (2.0 * nn + 3.0) - snn)
          |        / 72.0) AS zz
          |  FROM j, ns
          |)
          |SELECT k, nn AS n, round(jd, 1) AS j_stat,
          |  round(zz, 6) AS z_stat,
          |  CAST(CASE WHEN abs(round(zz, 6)) > 1.96 THEN 1 ELSE 0 END
          |    AS BIGINT) AS reject_95
          |FROM z""".stripMargin,
      // op 347: identical all-integer Q identity, decimal moments.
      "stats_cochran_q" ->
        s"""$R_CTE, x AS (
          |  SELECT event_type,
          |    CASE WHEN CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) > 0
          |         THEN 1 ELSE 0 END AS x,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY ts, event_id) AS rn
          |  FROM r WHERE ret IS NOT NULL
          |), kk AS (
          |  SELECT count(DISTINCT event_type) AS k FROM x
          |), b AS (
          |  SELECT x.*, count(*) OVER (PARTITION BY rn) AS bc FROM x
          |), c AS (
          |  SELECT event_type, rn, x FROM b, kk WHERE bc = k
          |), rws AS (
          |  SELECT rn, CAST(sum(x) AS BIGINT) AS rb FROM c GROUP BY rn
          |), cls AS (
          |  SELECT event_type, CAST(sum(x) AS BIGINT) AS cj
          |  FROM c GROUP BY event_type
          |), ra AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CAST(rb AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS nn,
          |    CAST(sum(CAST(rb AS DECIMAL(38,0)) * rb) AS DECIMAL(38,0))
          |      AS srb2
          |  FROM rws
          |), ca AS (
          |  SELECT CAST(sum(CAST(cj AS DECIMAL(38,0)) * cj) AS DECIMAL(38,0))
          |    AS scj2 FROM cls
          |), a AS (
          |  SELECT k, n, nn, srb2, scj2,
          |    CAST((k - 1) * (CAST(k AS DECIMAL(38,0)) * scj2 - nn * nn)
          |      AS DOUBLE) AS num,
          |    CAST(CAST(k AS DECIMAL(38,0)) * nn - srb2 AS DOUBLE) AS den
          |  FROM ra, ca, kk
          |)
          |SELECT CAST(k AS BIGINT) AS k, n,
          |  round(CASE WHEN den <> 0 THEN num / den END, 6) AS q_stat,
          |  CAST(CASE WHEN round(CASE WHEN den <> 0 THEN num / den END, 6)
          |    > 9.4877 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
          |FROM a""".stripMargin,
      "stats_quantiles" ->
        """SELECT event_type,
          |  round(quantile_cont(value, 0.5), 6) AS p50,
          |  round(quantile_cont(value, 0.95), 6) AS p95,
          |  round(quantile_cont(value, 0.99), 6) AS p99
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "stats_histogram" ->
        """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket,
          |  round(CAST(floor(value / 50.0) AS BIGINT) * 50.0, 2) AS bucket_lo,
          |  count(*) AS n
          |FROM events GROUP BY event_type, bucket ORDER BY event_type, bucket""".stripMargin,
      "stats_robust" ->
        """WITH b AS (
          |  SELECT event_type, quantile_cont(value, 0.5) AS med,
          |    quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
          |  FROM events GROUP BY event_type
          |)
          |SELECT e.event_type, round(min(med), 6) AS median,
          |  round(quantile_cont(abs(value - med), 0.5), 6) AS mad,
          |  round(CAST(sum(CAST(CASE WHEN value IS NOT NULL
          |                 THEN greatest(lo, least(hi, value)) END AS DECIMAL(30,10))) AS DOUBLE)
          |        / count(value), 6) AS winsor_mean
          |FROM events e JOIN b ON e.event_type = b.event_type
          |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
      // op 240: same pooled grid, same exact half-integer midranks,
      // same no-tie-correction U/z algebra.
      "stats_mann_whitney" ->
        s"""$R_CTE, q0 AS (
          |  SELECT event_type, CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS q
          |  FROM r WHERE ret IS NOT NULL
          |), pooled AS (
          |  SELECT event_type AS pair_id, q, 1 AS isA
          |  FROM q0 WHERE event_type <> 'view'
          |  UNION ALL
          |  SELECT p.pair_id, b.q, 0 AS isA
          |  FROM (SELECT DISTINCT event_type AS pair_id FROM q0 WHERE event_type <> 'view') p
          |  CROSS JOIN (SELECT q FROM q0 WHERE event_type = 'view') b
          |), cnt AS (
          |  SELECT pair_id, q, count(*) AS c, CAST(sum(isA) AS BIGINT) AS cA
          |  FROM pooled GROUP BY 1, 2
          |), rk AS (
          |  SELECT pair_id, q, c, cA,
          |    sum(c) OVER (PARTITION BY pair_id ORDER BY q
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM cnt
          |), mid AS (
          |  SELECT pair_id, cA, c,
          |    (CAST(cum - c + 1 AS DOUBLE) + CAST(cum AS DOUBLE)) / 2.0 AS mid
          |  FROM rk
          |), agg AS (
          |  SELECT pair_id, sum(cA * mid) AS ra,
          |    CAST(sum(cA) AS BIGINT) AS na, CAST(sum(c - cA) AS BIGINT) AS nb
          |  FROM mid GROUP BY pair_id
          |)
          |SELECT pair_id, na, nb,
          |  round(ra - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0) / 2.0, 6) AS u_stat,
          |  round((ra - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0) / 2.0
          |         - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
          |        / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
          |               * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0) / 12.0), 6)
          |    + 0.0 AS z_stat
          |FROM agg ORDER BY pair_id""".stripMargin,
      // op 241: exact integer-ratio expected counts, 1e-9-quantized
      // cell terms.
      "stats_chi2_independence" ->
        """WITH o AS (SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
          |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM o GROUP BY 1),
          |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY 1),
          |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
          |cells AS (
          |  SELECT o.o, CAST(rt.rt * ct.ct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS e
          |  FROM o JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN nn
          |), t AS (
          |  SELECT CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
          |    * 1e9 + 0.5) AS BIGINT) AS t
          |  FROM cells
          |)
          |SELECT (SELECT count(*) FROM cells) AS n_cells,
          |  CAST(((SELECT count(*) FROM rt) - 1) * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof,
          |  round(CAST(sum(t) AS DOUBLE) / 1e9, 6) AS chi2
          |FROM t""".stripMargin,
      // op 329: the op-271 moment CTEs, the closed χ²(2) p, and the
      // same windowless rank/suffix-min self-join algebra.
      "stats_bh_fdr" ->
        s"""$R_CTE, d AS (
          |  SELECT event_type,
          |    ret - avg(ret) OVER (PARTITION BY event_type) AS d
          |  FROM r WHERE ret IS NOT NULL
          |), mo AS (
          |  SELECT event_type, count(*) AS n,
          |    round(avg(pow(d, 3)) / pow(avg(pow(d, 2)), 1.5), 6) + 0.0 AS sk,
          |    round(avg(pow(d, 4)) / pow(avg(pow(d, 2)), 2) - 3, 6) + 0.0 AS ku
          |  FROM d GROUP BY event_type
          |), pp AS (
          |  SELECT event_type,
          |    round(exp(-round(n / 6.0 * (sk * sk + ku * ku / 4.0), 6) / 2.0),
          |      9) + 0.0 AS p
          |  FROM mo
          |), rk AS (
          |  SELECT a.event_type, a.p, count(*) AS rnk
          |  FROM pp a JOIN pp b ON b.p < a.p
          |    OR (b.p = a.p AND b.event_type <= a.event_type)
          |  GROUP BY 1, 2
          |), mm AS (SELECT count(*) AS m FROM pp)
          |SELECT rk.event_type, rk.p AS p_value, rk.rnk,
          |  min(least(1.0, round(mm.m * r2.p / r2.rnk, 9))) AS p_adj,
          |  min(least(1.0, round(mm.m * r2.p / r2.rnk, 9))) <= 0.10 AS reject
          |FROM rk CROSS JOIN mm JOIN rk r2 ON r2.rnk >= rk.rnk
          |GROUP BY 1, 2, 3 ORDER BY rk.rnk""".stripMargin,
      // op 328: same md5 coin per (b, event_id); the extremeness
      // compare replays the exact cross-multiplied HUGEINT form.
      "stats_permutation" ->
        s"""$R_CTE, x AS (
          |  SELECT event_type, event_id,
          |    CAST(floor(ret * 1000000.0 + 0.5) AS BIGINT) AS q
          |  FROM r
          |  WHERE ret IS NOT NULL AND event_type IN ('click', 'view')
          |), o AS (
          |  SELECT
          |    CAST(sum(CASE WHEN event_type = 'click' THEN q END) AS BIGINT) AS sa0,
          |    count(CASE WHEN event_type = 'click' THEN 1 END) AS na0,
          |    CAST(sum(CASE WHEN event_type = 'view' THEN q END) AS BIGINT) AS sb0,
          |    count(CASE WHEN event_type = 'view' THEN 1 END) AS nb0
          |  FROM x
          |), flips AS (
          |  SELECT x.q, rr.range AS b,
          |    ${md5Word8Sql("'perm_' || rr.range::VARCHAR || '_' || event_id::VARCHAR")}
          |      / 4294967296.0 < 0.5 AS side
          |  FROM x CROSS JOIN range(1, 101) rr
          |), reps AS (
          |  SELECT b,
          |    CAST(sum(CASE WHEN side THEN q END) AS BIGINT) AS sa,
          |    count(CASE WHEN side THEN 1 END) AS na,
          |    CAST(sum(CASE WHEN NOT side THEN q END) AS BIGINT) AS sb,
          |    count(CASE WHEN NOT side THEN 1 END) AS nb
          |  FROM flips GROUP BY b
          |), e AS (
          |  SELECT count(*) AS n_reps,
          |    CAST(sum(CASE WHEN
          |      abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na)
          |        * (CAST(na0 AS HUGEINT) * nb0) >=
          |      abs(CAST(sa0 AS HUGEINT) * nb0 - CAST(sb0 AS HUGEINT) * na0)
          |        * (CAST(na AS HUGEINT) * nb)
          |      THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
          |  FROM reps CROSS JOIN o WHERE na > 0 AND nb > 0
          |)
          |SELECT na0 AS n_a, nb0 AS n_b,
          |  round((CAST(sa0 AS DOUBLE) / na0 - CAST(sb0 AS DOUBLE) / nb0)
          |    / 1e6, 9) + 0.0 AS obs_diff,
          |  n_reps, n_extreme,
          |  round(CAST(n_extreme + 1 AS DOUBLE) / (n_reps + 1), 6) + 0.0
          |    AS p_value
          |FROM e CROSS JOIN o""".stripMargin,
      // op 324: same quantized χ² long, V and its grade from
      // identical integers.
      "stats_cramers_v" ->
        """WITH o AS (SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
          |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM o GROUP BY 1),
          |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY 1),
          |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
          |cells AS (
          |  SELECT o.o, CAST(rt.rt * ct.ct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS e
          |  FROM o JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN nn
          |), agg AS (
          |  SELECT CAST(sum(CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
          |      * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS chi2r,
          |    (SELECT n FROM nn) AS n,
          |    (SELECT count(*) FROM rt) AS r,
          |    (SELECT count(*) FROM ct) AS c
          |  FROM cells
          |)
          |SELECT n, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
          |  round(chi2r, 6) AS chi2,
          |  round(sqrt(chi2r / (CAST(n AS DOUBLE) *
          |    CAST(least(r, c) - 1 AS DOUBLE))), 6) AS cramers_v,
          |  CASE WHEN sqrt(chi2r / (CAST(n AS DOUBLE) *
          |      CAST(least(r, c) - 1 AS DOUBLE))) < 0.1 THEN 'negligible'
          |    WHEN sqrt(chi2r / (CAST(n AS DOUBLE) *
          |      CAST(least(r, c) - 1 AS DOUBLE))) < 0.3 THEN 'weak'
          |    WHEN sqrt(chi2r / (CAST(n AS DOUBLE) *
          |      CAST(least(r, c) - 1 AS DOUBLE))) < 0.5 THEN 'moderate'
          |    ELSE 'strong' END AS association
          |FROM agg""".stripMargin,
      // op 242: integer volume sums, exact share ratios.
      "tick_volume_profile" ->
        s"""WITH h AS (
          |  SELECT event_type, hour(ts) AS hr,
          |    CAST(sum(event_id % 100 + 1) AS BIGINT) AS vol,
          |    count(*) AS n_trades
          |  FROM events GROUP BY 1, 2
          |), t AS (
          |  SELECT event_type, CAST(sum(vol) AS BIGINT) AS tv FROM h GROUP BY 1
          |)
          |SELECT h.event_type, h.hr, h.n_trades, h.vol,
          |  round(CAST(h.vol AS DOUBLE) / CAST(t.tv AS DOUBLE), 6) AS vol_share
          |FROM h JOIN t USING (event_type)
          |ORDER BY h.event_type, h.hr""".stripMargin,
      // op 320: same fixed bins, exact integer counts, identical
      // (p−q)·ln(p/q) parenthesization per bin.
      "stats_psi" ->
        s"""$R_CTE, b AS (
          |  SELECT event_type,
          |    greatest(-10000, least(10000,
          |      CAST(floor(ret * 1000.0) AS BIGINT))) AS bin
          |  FROM r WHERE ret IS NOT NULL
          |), cnt AS (
          |  SELECT event_type, bin, count(*) AS c FROM b GROUP BY 1, 2
          |), tot AS (
          |  SELECT event_type, count(*) AS nt FROM b GROUP BY 1
          |), terms AS (
          |  SELECT a.event_type,
          |    (CAST(a.c AS DOUBLE) / ta.nt - CAST(v.c AS DOUBLE) / tv.nt) *
          |    ln((CAST(a.c AS DOUBLE) / ta.nt) /
          |       (CAST(v.c AS DOUBLE) / tv.nt)) AS term
          |  FROM cnt a
          |  JOIN tot ta ON ta.event_type = a.event_type
          |  JOIN cnt v ON v.bin = a.bin AND v.event_type = 'view'
          |  JOIN tot tv ON tv.event_type = 'view'
          |  WHERE a.event_type <> 'view'
          |), s AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_bins,
          |    round(sum(term), 6) AS psi
          |  FROM terms GROUP BY event_type
          |)
          |SELECT event_type, n_bins, psi,
          |  CASE WHEN psi < 0.1 THEN 'stable'
          |       WHEN psi < 0.25 THEN 'moderate'
          |       ELSE 'shifted' END AS verdict
          |FROM s ORDER BY event_type""".stripMargin,
      // op 225: same global 1e-6 grid, same integer KS numerator,
      // same λ/p-value algebra.
      "stats_ks_test" ->
        s"""$R_CTE, q0 AS (
          |  SELECT event_type, CAST(floor(ret * 1e6 + 0.5) AS BIGINT) AS q
          |  FROM r WHERE ret IS NOT NULL
          |), cnt AS (SELECT event_type, q, count(*) AS c FROM q0 GROUP BY 1, 2),
          |grid AS (SELECT DISTINCT q FROM cnt),
          |types AS (SELECT DISTINCT event_type FROM cnt),
          |dense AS (
          |  SELECT t.event_type, g.q, COALESCE(c.c, 0) AS c
          |  FROM grid g CROSS JOIN types t
          |  LEFT JOIN cnt c ON c.event_type = t.event_type AND c.q = g.q
          |), cum AS (
          |  SELECT event_type, q,
          |    sum(c) OVER (PARTITION BY event_type ORDER BY q
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
          |  FROM dense
          |), tot AS (SELECT event_type, count(*) AS nt FROM q0 GROUP BY 1),
          |sa AS (SELECT c.event_type, c.q, c.cc AS ca, t.nt AS na
          |       FROM cum c JOIN tot t USING (event_type) WHERE c.event_type <> 'view'),
          |sb AS (SELECT c.q, c.cc AS cb, t.nt AS nb
          |       FROM cum c JOIN tot t USING (event_type) WHERE c.event_type = 'view'),
          |m AS (
          |  SELECT sa.event_type, max(sa.na) AS n_a, max(sb.nb) AS n_b,
          |    max(abs(sa.ca * sb.nb - sb.cb * sa.na)) AS mx
          |  FROM sa JOIN sb USING (q) GROUP BY sa.event_type
          |), dd AS (
          |  SELECT event_type, n_a, n_b,
          |    CAST(mx AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS dd
          |  FROM m
          |), ll AS (
          |  SELECT event_type, n_a, n_b, dd,
          |    dd * sqrt(CAST(n_a * n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) AS lam
          |  FROM dd
          |)
          |SELECT event_type, n_a, n_b, round(dd, 6) AS ks_d,
          |  round(least(1.0, 2.0 * exp(-2.0 * lam * lam)), 6) AS p_value
          |FROM ll ORDER BY event_type""".stripMargin,
      "tick_kyle_lambda" ->
        s"""WITH d AS (
          |  SELECT event_type,
          |    value - lag(value) OVER w AS dp,
          |    $SQL_VOL * (CASE WHEN value > lag(value) OVER w THEN 1
          |                     WHEN value < lag(value) OVER w THEN -1 ELSE 0 END) AS sv
          |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
          |)
          |SELECT event_type, round(covar_samp(dp, sv) / var_samp(sv), 6) AS kyle_lambda
          |FROM d WHERE dp IS NOT NULL
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "tick_twap" ->
        """WITH d AS (
          |  SELECT event_type, value,
          |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dt_us
          |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
          |)
          |SELECT event_type,
          |  round(CAST(sum(CAST(value * dt_us AS DECIMAL(30,8))) AS DOUBLE) /
          |        CAST(sum(CAST(dt_us AS DECIMAL(30,8))) AS DOUBLE), 6) AS twap,
          |  CAST(sum(dt_us) AS BIGINT) AS span_us
          |FROM d WHERE dt_us IS NOT NULL
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "tick_roll_spread" ->
        """WITH d AS (
          |  SELECT event_type,
          |    value - lag(value, 1) OVER w AS dp,
          |    lag(value, 1) OVER w - lag(value, 2) OVER w AS dpl
          |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
          |)
          |SELECT event_type,
          |  round(CASE WHEN covar_samp(dp, dpl) < 0
          |             THEN 2.0 * sqrt(-covar_samp(dp, dpl)) END, 6) + 0.0
          |    AS roll_spread
          |FROM d WHERE dp IS NOT NULL AND dpl IS NOT NULL
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "tick_amihud" ->
        // zero-dollar prints are skipped (NULL in the CASE → dropped
        // by avg), mirroring the Spark-side lazy guard.
        s"""$R_CTE
          |SELECT event_type,
          |  round(avg(CASE WHEN value * $SQL_VOL > 0
          |                 THEN abs(ret) / (value * $SQL_VOL) * 1e6 END), 6)
          |    AS amihud
          |FROM r WHERE ret IS NOT NULL
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "tick_vpin" ->
        s"""WITH c AS (
          |  SELECT event_type, $SQL_VOL AS vol,
          |    CASE WHEN value > lag(value) OVER w THEN 1
          |         WHEN value < lag(value) OVER w THEN -1 ELSE 0 END AS dirn,
          |    COALESCE(sum($SQL_VOL) OVER (PARTITION BY event_type
          |      ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
          |  FROM events
          |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
          |), b AS (
          |  SELECT event_type, CAST(floor(pre / 5000) AS BIGINT) AS bar,
          |    sum(CASE WHEN dirn = 1 THEN vol ELSE 0 END) AS vb,
          |    sum(CASE WHEN dirn = -1 THEN vol ELSE 0 END) AS vs,
          |    sum(vol) AS v
          |  FROM c GROUP BY event_type, bar
          |)
          |SELECT event_type, count(*) AS n_buckets,
          |  round(sum(abs(vb - vs)) / sum(v), 6) AS vpin
          |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin,
      "tick_parkinson_gk" ->
        s"""WITH b AS (
          |  SELECT event_type, date_trunc('hour', ts) AS bs,
          |    arg_min(value, ts) AS open, max(value) AS high,
          |    min(value) AS low, arg_max(value, ts) AS close
          |  FROM events GROUP BY event_type, bs
          |), t AS (
          |  SELECT event_type,
          |    CAST(pow(ln(high / low), 2) / $FourLn2 AS DECIMAL(30,10))
          |      AS p_term,
          |    CAST(pow(ln(high / low), 2) * 0.5
          |         - pow(ln(close / open), 2) * $GkWeight AS DECIMAL(30,10))
          |      AS g_term
          |  FROM b WHERE low > 0
          |)
          |SELECT event_type, count(*) AS n_bars,
          |  round(sqrt(CAST(sum(p_term) AS DOUBLE) / count(*)), 6)
          |    AS parkinson_vol,
          |  round(CASE WHEN sum(g_term) > 0
          |        THEN sqrt(CAST(sum(g_term) AS DOUBLE) / count(*)) END, 6)
          |    + 0.0 AS gk_vol
          |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
      // op 275: same daily-bar CTE, low>0 filter BEFORE the lag so the
      // overnight link re-chains identically, identical k algebra.
      "tick_yang_zhang" ->
        """WITH b AS (
          |  SELECT event_type, date_trunc('day', ts) AS bs,
          |    arg_min(value, ts) AS open, max(value) AS high,
          |    min(value) AS low, arg_max(value, ts) AS close
          |  FROM events GROUP BY event_type, bs
          |), f AS (
          |  SELECT * FROM b WHERE low > 0
          |), d AS (
          |  SELECT event_type, lag(close) OVER w AS pc,
          |    ln(open / lag(close) OVER w) AS ov,
          |    ln(close / open) AS cc,
          |    ln(high / open) * ln(high / close)
          |      + ln(low / open) * ln(low / close) AS rs
          |  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY bs)
          |), a AS (
          |  SELECT event_type, count(*) AS n_days,
          |    var_samp(ov) AS vo, var_samp(cc) AS vc, avg(rs) AS vrs
          |  FROM d WHERE pc IS NOT NULL GROUP BY event_type
          |), a2 AS (
          |  SELECT *, 0.34 / (1.34 + (n_days + 1.0) / (n_days - 1.0)) AS k
          |  FROM a
          |)
          |SELECT event_type, n_days,
          |  round(sqrt(vo), 6) + 0.0 AS vol_overnight,
          |  round(sqrt(vc), 6) + 0.0 AS vol_openclose,
          |  round(CASE WHEN vrs >= 0 THEN sqrt(vrs) END, 6) + 0.0 AS vol_rs,
          |  round(CASE WHEN n_days >= 2 AND vo + k * vc + (1.0 - k) * vrs >= 0
          |        THEN sqrt(vo + k * vc + (1.0 - k) * vrs) END, 6) + 0.0
          |    AS yang_zhang_vol
          |FROM a2 ORDER BY event_type""".stripMargin,
      // prefix-sum twin of Eod.rollingMean/Volatility/Sharpe/
      // DownsideDev/Sortino: identical cumulative sums, lag-difference
      // and guard algebra (keep in lockstep).
      "eod_rolling" ->
        s"""$R_CTE, c AS (
          |  SELECT event_type, ts, event_id,
          |    sum(CASE WHEN ret IS NOT NULL THEN 1.0 ELSE 0.0 END) OVER cum AS cn,
          |    sum(coalesce(ret, 0.0)) OVER cum AS cs,
          |    sum(coalesce(ret, 0.0) * coalesce(ret, 0.0)) OVER cum AS css,
          |    sum(CASE WHEN ret IS NOT NULL THEN least(ret, 0.0) * least(ret, 0.0) ELSE 0.0 END) OVER cum AS cl2
          |  FROM r
          |  WINDOW cum AS (PARTITION BY event_type ORDER BY ts, event_id
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |), d AS (
          |  SELECT event_type, ts, event_id,
          |    cn - coalesce(lag(cn, 20) OVER wp, 0.0) AS n,
          |    cs - coalesce(lag(cs, 20) OVER wp, 0.0) AS sx,
          |    css - coalesce(lag(css, 20) OVER wp, 0.0) AS sxx,
          |    cl2 - coalesce(lag(cl2, 20) OVER wp, 0.0) AS sl2
          |  FROM c WINDOW wp AS (PARTITION BY event_type ORDER BY ts, event_id)
          |), m AS (
          |  SELECT event_type, event_id,
          |    CASE WHEN n > 0 THEN sx / n END AS mean,
          |    CASE WHEN n >= 2 AND (sxx - sx * sx / n) / (n - 1) >= 0
          |         THEN sqrt((sxx - sx * sx / n) / (n - 1)) END AS vol,
          |    CASE WHEN n > 0 THEN sqrt(sl2 / n) END AS dsd
          |  FROM d
          |)
          |SELECT event_type, event_id,
          |  round(mean, 4) + 0.0 AS roll_mean,
          |  round(vol, 4) + 0.0 AS roll_vol,
          |  round(CASE WHEN vol <> 0 THEN mean / vol END * sqrt(252.0), 4) + 0.0 AS roll_sharpe,
          |  round(dsd, 4) + 0.0 AS roll_downside,
          |  round(CASE WHEN dsd <> 0 THEN mean / dsd END * sqrt(252.0), 4) + 0.0 AS roll_sortino
          |FROM m""".stripMargin,
      "sessionize" ->
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
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
      "events_funnel" ->
        """WITH a AS (
          |  SELECT user_id, event_type, ts, event_id, epoch_us(ts) AS us,
          |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
          |      OVER w AS t1
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |), b AS (
          |  SELECT *, (event_type = 'click' AND t1 IS NOT NULL AND us > t1)
          |    AS q2 FROM a
          |), c AS (
          |  SELECT *, min(CASE WHEN q2 THEN us END) OVER w AS t2
          |  FROM b
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |), d AS (
          |  SELECT *, (event_type = 'purchase' AND t2 IS NOT NULL AND us > t2)
          |    AS q3 FROM c
          |)
          |SELECT user_id,
          |  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s1,
          |  max(CASE WHEN q2 THEN 1 ELSE 0 END) AS s2,
          |  max(CASE WHEN q3 THEN 1 ELSE 0 END) AS s3
          |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,
      // op 349: the op-330 SQL with the 3-day conversion-window bound
      // on both qualifying conditions.
      "events_funnel_windowed" ->
        """WITH a AS (
          |  SELECT user_id, event_type, ts, event_id, epoch_us(ts) AS us,
          |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
          |      OVER w AS t1
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |), b AS (
          |  SELECT *, (event_type = 'click' AND t1 IS NOT NULL AND us > t1
          |    AND us - t1 <= 259200000000) AS q2 FROM a
          |), c AS (
          |  SELECT *, min(CASE WHEN q2 THEN us END) OVER w AS t2
          |  FROM b
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |), d AS (
          |  SELECT *, (event_type = 'purchase' AND t2 IS NOT NULL AND us > t2
          |    AND us - t2 <= 259200000000) AS q3 FROM c
          |)
          |SELECT user_id,
          |  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s1,
          |  max(CASE WHEN q2 THEN 1 ELSE 0 END) AS s2,
          |  max(CASE WHEN q3 THEN 1 ELSE 0 END) AS s3
          |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,
      // op 350: the w8 md5-word coin, pooled z on exact integers.
      "events_ab_test" ->
        s"""WITH u AS (
          |  SELECT user_id,
          |    max(CASE WHEN event_type = 'purchase' AND value >= 150.0
          |        THEN 1 ELSE 0 END) AS conv
          |  FROM events GROUP BY user_id
          |), h AS (
          |  SELECT conv, md5('ab_' || CAST(user_id AS VARCHAR)) AS hx FROM u
          |), v AS (
          |  SELECT conv,
          |    CASE WHEN ${w8("hx")} % 2 = 0 THEN 1 ELSE 0 END AS va
          |  FROM h
          |), a AS (
          |  SELECT CAST(sum(va) AS BIGINT) AS n_a,
          |    CAST(sum(va * conv) AS BIGINT) AS conv_a,
          |    CAST(sum(1 - va) AS BIGINT) AS n_b,
          |    CAST(sum((1 - va) * conv) AS BIGINT) AS conv_b
          |  FROM v
          |), z AS (
          |  SELECT *, conv_a / CAST(n_a AS DOUBLE) AS pa,
          |    conv_b / CAST(n_b AS DOUBLE) AS pb,
          |    (conv_a + conv_b) / (CAST(n_a AS DOUBLE) + n_b) AS pool
          |  FROM a
          |)
          |SELECT n_a, conv_a, n_b, conv_b,
          |  round(CASE WHEN n_a > 0 THEN pa END, 6) AS rate_a,
          |  round(CASE WHEN n_b > 0 THEN pb END, 6) AS rate_b,
          |  round(CASE WHEN n_a > 0 AND n_b > 0 AND pool > 0 AND pool < 1
          |    THEN (pa - pb) / sqrt(pool * (1.0 - pool)
          |      * (1.0 / n_a + 1.0 / n_b)) END, 6) AS z_stat,
          |  CAST(CASE WHEN abs(round(CASE WHEN n_a > 0 AND n_b > 0
          |      AND pool > 0 AND pool < 1
          |    THEN (pa - pb) / sqrt(pool * (1.0 - pool)
          |      * (1.0 / n_a + 1.0 / n_b)) END, 6)) > 1.96
          |    THEN 1 ELSE 0 END AS BIGINT) AS significant_95
          |FROM z""".stripMargin,
      "events_retention" ->
        """WITH firsts AS (
          |  SELECT user_id,
          |    epoch_us(date_trunc('week', min(ts))) AS cohort_us
          |  FROM events WHERE event_type = 'signup' GROUP BY user_id
          |), weekly AS (
          |  SELECT DISTINCT user_id, epoch_us(date_trunc('week', ts)) AS week_us
          |  FROM events
          |), cohorts AS (
          |  SELECT cohort_us, count(*) AS n_cohort FROM firsts GROUP BY cohort_us
          |), act AS (
          |  SELECT f.cohort_us,
          |    CAST((w.week_us - f.cohort_us) / 604800000000 AS BIGINT)
          |      AS week_offset,
          |    count(*) AS n_active
          |  FROM weekly w JOIN firsts f USING (user_id)
          |  WHERE w.week_us >= f.cohort_us
          |  GROUP BY 1, 2
          |)
          |SELECT a.cohort_us, a.week_offset, a.n_active, c.n_cohort,
          |  round(CAST(a.n_active AS DOUBLE) / c.n_cohort, 6) AS retained_pct
          |FROM act a JOIN cohorts c USING (cohort_us)
          |ORDER BY cohort_us, week_offset""".stripMargin,
      "events_scd2" ->
        """WITH e AS (
          |  SELECT user_id, event_type AS state, epoch_us(ts) AS vf, ts,
          |    event_id,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS prev
          |  FROM events
          |), k AS (
          |  SELECT user_id, state, vf, event_id FROM e
          |  WHERE prev IS NULL OR prev <> state
          |)
          |SELECT user_id, state, vf AS valid_from_us,
          |  COALESCE(lead(vf) OVER (PARTITION BY user_id ORDER BY vf, event_id),
          |    32503680000000000) AS valid_to_us,
          |  CAST(COALESCE(lead(vf) OVER (PARTITION BY user_id
          |      ORDER BY vf, event_id), 32503680000000000)
          |    = 32503680000000000 AS INT) AS is_current
          |FROM k ORDER BY user_id, valid_from_us""".stripMargin,
      // op 364: same first-signup/first-later-purchase lags, R-7
      // quantiles on integer seconds, exact rate.
      "events_conversion_lag" ->
        """WITH t0 AS (
          |  SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
          |  WHERE event_type = 'signup' GROUP BY user_id
          |), lags AS (
          |  SELECT e.user_id,
          |    CAST(floor((min(epoch_us(e.ts)) - min(t0.t0)) / 1e6)
          |      AS BIGINT) AS lag_s
          |  FROM events e JOIN t0 USING (user_id)
          |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t0.t0
          |  GROUP BY e.user_id
          |), ns AS (SELECT count(*) AS n_signups FROM t0)
          |SELECT n_signups, count(*) AS n_converted,
          |  floor(CAST(count(*) AS DOUBLE) / n_signups * 1e6 + 0.5) / 1e6
          |    AS conversion_rate,
          |  round(quantile_cont(lag_s, 0.5), 1) AS median_lag_s,
          |  round(quantile_cont(lag_s, 0.9), 1) AS p90_lag_s
          |FROM lags, ns GROUP BY n_signups""".stripMargin,
      // op 357: same grain truncations, distinct-user counts, q6 ratio.
      "events_dau_mau" ->
        """WITH d AS (
          |  SELECT epoch_us(date_trunc('day', ts)) AS day_us,
          |    count(DISTINCT user_id) AS dau
          |  FROM events GROUP BY 1
          |), w AS (
          |  SELECT epoch_us(date_trunc('week', ts)) AS week_us,
          |    count(DISTINCT user_id) AS wau
          |  FROM events GROUP BY 1
          |), m AS (
          |  SELECT epoch_us(date_trunc('month', ts)) AS month_us,
          |    count(DISTINCT user_id) AS mau
          |  FROM events GROUP BY 1
          |)
          |SELECT day_us, dau, wau, mau,
          |  floor(CAST(dau AS DOUBLE) / mau * 1e6 + 0.5) / 1e6 AS stickiness
          |FROM d
          |JOIN w ON epoch_us(date_trunc('week', make_timestamp(day_us)))
          |  = week_us
          |JOIN m ON epoch_us(date_trunc('month', make_timestamp(day_us)))
          |  = month_us
          |ORDER BY day_us""".stripMargin,
      // op 368: same split/counts, unpooled TOST SE, identical z's.
      "events_ab_equivalence" ->
        s"""WITH u AS (
          |  SELECT user_id,
          |    max(CASE WHEN event_type = 'purchase' AND value >= 150.0
          |        THEN 1 ELSE 0 END) AS conv
          |  FROM events GROUP BY user_id
          |), h AS (
          |  SELECT conv, md5('ab_' || CAST(user_id AS VARCHAR)) AS hx FROM u
          |), v AS (
          |  SELECT conv,
          |    CASE WHEN ${w8("hx")} % 2 = 0 THEN 1 ELSE 0 END AS va
          |  FROM h
          |), a AS (
          |  SELECT CAST(sum(va) AS BIGINT) AS n_a,
          |    CAST(sum(va * conv) AS BIGINT) AS conv_a,
          |    CAST(sum(1 - va) AS BIGINT) AS n_b,
          |    CAST(sum((1 - va) * conv) AS BIGINT) AS conv_b
          |  FROM v
          |), z AS (
          |  SELECT *, conv_a / CAST(n_a AS DOUBLE) AS pa,
          |    conv_b / CAST(n_b AS DOUBLE) AS pb,
          |    sqrt(conv_a / CAST(n_a AS DOUBLE)
          |        * (1.0 - conv_a / CAST(n_a AS DOUBLE)) / n_a
          |      + conv_b / CAST(n_b AS DOUBLE)
          |        * (1.0 - conv_b / CAST(n_b AS DOUBLE)) / n_b) AS se
          |  FROM a
          |), t AS (
          |  SELECT n_a, conv_a, n_b, conv_b, pa - pb AS diff,
          |    CASE WHEN n_a > 0 AND n_b > 0 AND se > 0
          |      THEN (pa - pb + 0.05) / se END AS zlo,
          |    CASE WHEN n_a > 0 AND n_b > 0 AND se > 0
          |      THEN (0.05 - (pa - pb)) / se END AS zhi
          |  FROM z
          |)
          |SELECT n_a, conv_a, n_b, conv_b,
          |  round(diff, 6) AS rate_diff,
          |  round(zlo, 6) AS z_lower, round(zhi, 6) AS z_upper,
          |  CAST(CASE WHEN least(round(zlo, 6), round(zhi, 6)) > 1.645
          |    THEN 1 ELSE 0 END AS BIGINT) AS equivalent_95
          |FROM t""".stripMargin,
      // op 373: the same md5 split; χ² via the (na−nb)²/(na+nb)
      // closed form for equal expecteds.
      "events_srm" ->
        s"""WITH u AS (
          |  SELECT user_id,
          |    max(CASE WHEN event_type = 'purchase' AND value >= 150.0
          |        THEN 1 ELSE 0 END) AS conv
          |  FROM events GROUP BY user_id
          |), h AS (
          |  SELECT conv, md5('ab_' || CAST(user_id AS VARCHAR)) AS hx FROM u
          |), v AS (
          |  SELECT CASE WHEN ${w8("hx")} % 2 = 0 THEN 1 ELSE 0 END AS va
          |  FROM h
          |), a AS (
          |  SELECT CAST(sum(va) AS BIGINT) AS n_a,
          |    CAST(sum(1 - va) AS BIGINT) AS n_b
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
          |FROM a""".stripMargin,
      // op 398: first-event props-k quartile per user, then the
      // op-350 pooled-z algebra per segment.
      "events_lift_by_segment" ->
        s"""WITH f AS (
          |  SELECT user_id, props,
          |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          |  FROM events
          |), seg AS (
          |  SELECT user_id,
          |    -- TRY_CAST mirrors Spark's NULL on a digit-less props
          |    -- value (DuckDB regexp_extract returns '' on no match
          |    -- and a plain CAST('' AS INT) would ERROR, not diverge)
          |    CAST(floor(TRY_CAST(regexp_extract(props, '[0-9]+') AS INT) / 25.0)
          |      AS BIGINT) AS segment
          |  FROM f WHERE rn = 1
          |), u AS (
          |  SELECT user_id,
          |    max(CASE WHEN event_type = 'purchase' AND value >= 150.0
          |        THEN 1 ELSE 0 END) AS conv
          |  FROM events GROUP BY user_id
          |), v AS (
          |  SELECT seg.segment, u.conv,
          |    CASE WHEN ${w8("md5('ab_' || CAST(u.user_id AS VARCHAR))")} % 2 = 0
          |      THEN 1 ELSE 0 END AS va
          |  FROM u JOIN seg ON seg.user_id = u.user_id
          |), a AS (
          |  SELECT segment,
          |    CAST(sum(va) AS BIGINT) AS n_a,
          |    CAST(sum(va * conv) AS BIGINT) AS conv_a,
          |    CAST(sum(1 - va) AS BIGINT) AS n_b,
          |    CAST(sum((1 - va) * conv) AS BIGINT) AS conv_b
          |  FROM v GROUP BY segment
          |), z AS (
          |  SELECT *, conv_a / CAST(n_a AS DOUBLE) AS pa,
          |    conv_b / CAST(n_b AS DOUBLE) AS pb,
          |    (conv_a + conv_b) / (CAST(n_a AS DOUBLE) + n_b) AS pool
          |  FROM a
          |)
          |SELECT segment, n_a, conv_a, n_b, conv_b,
          |  round(CASE WHEN n_a > 0 AND n_b > 0 THEN pa - pb END, 6)
          |    AS rate_diff,
          |  round(CASE WHEN n_a > 0 AND n_b > 0 AND pool > 0 AND pool < 1
          |    THEN (pa - pb) / sqrt(pool * (1.0 - pool)
          |      * (1.0 / n_a + 1.0 / n_b)) END, 6) AS z_stat
          |FROM z ORDER BY segment""".stripMargin,
      // op 399: event-grain variant counts (the live gate's grain),
      // the op-373 chi-square closed form.
      "streaming_ab_gate" ->
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
          |FROM a""".stripMargin,
      // op 374: identical quantized pre/post sums, DECIMAL moments,
      // the same double algebra for θ and the adjusted means.
      "events_cuped" ->
        s"""WITH b AS (
          |  SELECT CAST(floor((min(epoch_us(ts)) + max(epoch_us(ts))) / 2.0)
          |    AS BIGINT) AS mid_us
          |  FROM events
          |), u AS (
          |  SELECT user_id,
          |    sum(CASE WHEN epoch_us(ts) < mid_us
          |      THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT) ELSE 0 END) AS x,
          |    sum(CASE WHEN epoch_us(ts) >= mid_us
          |      THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT) ELSE 0 END) AS y
          |  FROM events CROSS JOIN b GROUP BY user_id
          |), v AS (
          |  SELECT x, y,
          |    CASE WHEN ${w8("md5('ab_' || CAST(user_id AS VARCHAR))")} % 2 = 0
          |      THEN 1 ELSE 0 END AS va
          |  FROM u
          |), m AS (
          |  SELECT count(*) AS n,
          |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |    sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
          |    sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
          |    sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy,
          |    CAST(sum(va) AS BIGINT) AS n_a,
          |    CAST(sum(CASE WHEN va = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
          |    CAST(sum(CASE WHEN va = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
          |    CAST(sum(1 - va) AS BIGINT) AS n_b,
          |    CAST(sum(CASE WHEN va = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
          |    CAST(sum(CASE WHEN va = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_b
          |  FROM v
          |), d AS (
          |  SELECT n, n_a, n_b,
          |    CAST(n AS DOUBLE) AS nd,
          |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covnum,
          |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varxnum,
          |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS varynum,
          |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS xbar,
          |    CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e6 AS ya,
          |    CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 1e6 AS yb,
          |    CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e6 AS xa,
          |    CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 1e6 AS xb
          |  FROM m
          |), t AS (
          |  SELECT *,
          |    CASE WHEN varxnum > 0 THEN covnum / varxnum END AS theta,
          |    CASE WHEN varxnum > 0 AND varynum > 0
          |      THEN covnum * covnum / (varxnum * varynum) END AS rho2
          |  FROM d
          |)
          |SELECT n, n_a, n_b,
          |  round(theta, 6) AS theta,
          |  round(ya - yb, 6) AS diff_raw,
          |  round((ya - theta * (xa - xbar)) - (yb - theta * (xb - xbar)), 6)
          |    + 0.0 AS diff_cuped,
          |  round(rho2, 6) AS var_reduction
          |FROM t""".stripMargin,
      // op 375: distinct active days per user, histogram + tier.
      "events_power_users" ->
        """WITH d AS (
          |  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
          |), u AS (
          |  SELECT user_id, count(*) AS active_days FROM d GROUP BY user_id
          |)
          |SELECT active_days,
          |  CASE WHEN active_days >= 20 THEN 'power'
          |       WHEN active_days >= 8 THEN 'core'
          |       ELSE 'casual' END AS tier,
          |  count(*) AS n_users
          |FROM u GROUP BY active_days ORDER BY active_days""".stripMargin,
      // op 388: the same journey cut / tail-close / transition
      // counts, 24 unrolled floor-division sweeps on the 1e-9 grid.
      "events_markov_attribution" -> {
        // replays Events.markovAttribution's solve: the chain pivots to
        // ONE wide row (positions 1..7, conv = 8, null = 9), explodes
        // 7 removal variants, and runs the same fixed-pivot-order
        // Gaussian elimination unrolled as scalar column algebra. The
        // Spark side eliminates over exactly its k states; the padded
        // positions here are inert identity rows (and variants past k
        // remove nothing), so both yield the same doubles. Every
        // arithmetic step is a scalar IEEE op in the same order as
        // the Spark plan (a - b*c/d parses as a - ((b*c)/d) in both
        // engines) and every cross-row aggregate is INTEGER, so the
        // two engines agree bit-for-bit without a grid. The 7-state
        // grid covers the testdata's 5 states; the specs check larger
        // chains against an exact JVM solve.
        val smax = 7; val convj = smax + 1; val nullj = smax + 2
        val rhs = convj
        val nCols = (for { i <- 1 to smax; j <- 1 to nullj } yield
          s"sum(CASE WHEN fi = $i AND tj = $j THEN n END) AS n_${i}_$j"
        ) ++ (1 to smax).map(i =>
          s"coalesce(sum(CASE WHEN fi = $i THEN n END), 0) AS tot_$i")
        val nstExpr = (1 to smax).map(i =>
          s"(CASE WHEN tot_$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
        val cells = for { i <- 1 to smax; j <- (1 to smax) :+ rhs }
          yield (i, j)
        def qExpr(i: Int, j: Int): String = {
          val gate = if (j <= smax) s"rv = $i OR rv = $j" else s"rv = $i"
          s"""CASE WHEN $gate THEN 0.0
             |      ELSE (CASE WHEN tot_$i > 0
             |        THEN CAST(coalesce(n_${i}_$j, 0) AS DOUBLE)
             |             / CAST(tot_$i AS DOUBLE)
             |        ELSE 0.0 END) END""".stripMargin.replace("\n", " ")
            .replaceAll("\\s+", " ")
        }
        val a0Cols = cells.map { case (i, j) =>
          if (j == rhs) s"${qExpr(i, j)} AS a_${i}_$j"
          else {
            val ident = if (i == j) "1.0" else "0.0"
            s"$ident - ${qExpr(i, j)} AS a_${i}_$j"
          }
        }.mkString(",\n    ")
        val elimCtes = (1 until smax).map { k =>
          val cols = cells.map { case (i, j) =>
            if (i > k && (j > k || j == rhs))
              s"a_${i}_$j - a_${i}_$k * a_${k}_$j / a_${k}_$k AS a_${i}_$j"
            else s"a_${i}_$j"
          }.mkString(",\n    ")
          s"a$k AS (SELECT rv, nst,\n    $cols\n  FROM a${k - 1})"
        }.mkString(", ")
        val xsCase = (1 to smax).map { n =>
          s"WHEN nst = $n THEN a_${n}_$rhs / a_${n}_$n"
        }.mkString(" ")
        s"""WITH cutc AS (
          |  SELECT user_id, ts, event_id, event_type,
          |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY user_id ORDER BY ts, event_id
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
          |  FROM events
          |), kept AS (
          |  SELECT user_id, ts, event_id,
          |    CASE WHEN event_type = 'purchase' THEN 'conv'
          |         ELSE event_type END AS state
          |  FROM cutc
          |  WHERE (event_type <> 'purchase' AND cc = 0)
          |     OR (event_type = 'purchase' AND cc = 1)
          |), steps AS (
          |  SELECT coalesce(lag(state) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id), 'start') AS f,
          |    state AS t
          |  FROM kept
          |), tailk AS (
          |  SELECT state,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY ts DESC, event_id DESC) AS rn,
          |    max(CASE WHEN state = 'conv' THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY user_id) AS didconv
          |  FROM kept
          |), alltrans AS (
          |  SELECT f, t FROM steps
          |  UNION ALL
          |  SELECT state AS f, 'null' AS t FROM tailk
          |  WHERE rn = 1 AND didconv = 0
          |), trans AS (SELECT f, t, count(*) AS n FROM alltrans GROUP BY f, t),
          |channels AS (
          |  SELECT DISTINCT ch FROM (
          |    SELECT f AS ch FROM trans UNION ALL SELECT t AS ch FROM trans
          |  ) WHERE ch NOT IN ('start', 'conv', 'null')
          |), statepos AS (
          |  SELECT state, CAST(row_number() OVER
          |      (ORDER BY state = 'start', state) AS INT) AS pos
          |  FROM (SELECT ch AS state FROM channels
          |        UNION ALL SELECT 'start' AS state)
          |), tf AS (
          |  SELECT sf.pos AS fi,
          |    coalesce(st.pos,
          |      CASE WHEN tr.t = 'conv' THEN $convj ELSE $nullj END) AS tj,
          |    tr.n
          |  FROM trans tr
          |  JOIN statepos sf ON sf.state = tr.f
          |  LEFT JOIN statepos st ON st.state = tr.t
          |), wide AS (
          |  SELECT
          |    ${nCols.mkString(",\n    ")}
          |  FROM tf
          |), wide2 AS (
          |  SELECT *, $nstExpr AS nst FROM wide
          |), frame AS (
          |  SELECT wide2.*, rvt.rv FROM wide2
          |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6)) AS rvt(rv)
          |), a0 AS (
          |  SELECT rv, nst,
          |    $a0Cols
          |  FROM frame
          |), $elimCtes,
          |scored AS (
          |  SELECT rv, nst,
          |    CAST(floor((CASE $xsCase END) * 1e9 + 0.5) AS BIGINT) AS pq
          |  FROM a${smax - 1}
          |), pf AS (
          |  SELECT pq AS pq_full FROM scored WHERE rv = 0
          |), re2 AS (
          |  SELECT rv, nst, pq, pq_full,
          |    CASE WHEN pq_full > 0
          |      THEN CAST(floor((1.0 - CAST(pq AS DOUBLE)
          |        / CAST(pq_full AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
          |      ELSE 0 END AS rei
          |  FROM scored CROSS JOIN pf WHERE rv <> 0
          |), rs AS (
          |  SELECT sum(CASE WHEN rv <> nst THEN rei ELSE 0 END)
          |    AS re_sum
          |  FROM re2
          |)
          |SELECT sp.state AS channel,
          |  CAST(pq_full AS DOUBLE) / 1e9 AS p_full,
          |  CAST(pq AS DOUBLE) / 1e9 AS p_removed,
          |  CAST(rei AS DOUBLE) / 1e6 AS removal_effect,
          |  CASE WHEN re_sum > 0
          |    THEN floor(CAST(rei AS DOUBLE) / CAST(re_sum AS DOUBLE)
          |      * 1e6 + 0.5) / 1e6
          |  END AS attribution
          |FROM re2 CROSS JOIN rs JOIN statepos sp ON re2.rv = sp.pos
          |  AND sp.state <> 'start'
          |ORDER BY channel""".stripMargin
          // MATERIALIZED, not inlined: DuckDB's default CTE inlining
          // re-expands the journey chain under each elimination CTE.
          .replace(" AS (", " AS MATERIALIZED (")
      },
      // op 351: same cohort/week algebra as op 331, decimal revenue,
      // cumulative window over the report relation, q6 floors.
      "events_cohort_ltv" ->
        """WITH firsts AS (
          |  SELECT user_id,
          |    epoch_us(date_trunc('week', min(ts))) AS cohort_us
          |  FROM events WHERE event_type = 'signup' GROUP BY user_id
          |), cohorts AS (
          |  SELECT cohort_us, count(*) AS n_cohort FROM firsts GROUP BY 1
          |), rev AS (
          |  SELECT f.cohort_us,
          |    CAST((epoch_us(date_trunc('week', e.ts)) - f.cohort_us)
          |      / 604800000000 AS BIGINT) AS week_offset,
          |    sum(CAST(e.value AS DECIMAL(30,10))) AS wrev
          |  FROM events e JOIN firsts f USING (user_id)
          |  WHERE e.event_type = 'purchase'
          |    AND epoch_us(date_trunc('week', e.ts)) >= f.cohort_us
          |  GROUP BY 1, 2
          |), c AS (
          |  SELECT cohort_us, week_offset, wrev,
          |    sum(wrev) OVER (PARTITION BY cohort_us ORDER BY week_offset
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM rev
          |)
          |SELECT c.cohort_us, c.week_offset,
          |  floor(CAST(wrev AS DOUBLE) * 1e6 + 0.5) / 1e6 AS period_rev,
          |  floor(CAST(cum AS DOUBLE) / n_cohort * 1e6 + 0.5) / 1e6
          |    AS ltv_per_user,
          |  n_cohort
          |FROM c JOIN cohorts USING (cohort_us)
          |ORDER BY cohort_us, week_offset""".stripMargin,
      // op 356: same two-lag path counts, same deterministic top-10.
      "events_journeys" ->
        """WITH p AS (
          |  SELECT
          |    lag(event_type, 2) OVER w AS e1,
          |    lag(event_type, 1) OVER w AS e2,
          |    event_type AS e3
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |)
          |SELECT e1, e2, e3, count(*) AS n
          |FROM p WHERE e1 IS NOT NULL
          |GROUP BY 1, 2, 3
          |ORDER BY n DESC, e1, e2, e3 LIMIT 10""".stripMargin,
      "events_transitions" ->
        """WITH pairs AS (
          |  SELECT lag(event_type) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id) AS from_type,
          |    event_type AS to_type
          |  FROM events
          |), c AS (
          |  SELECT from_type, to_type, count(*) AS n
          |  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2
          |), t AS (
          |  SELECT from_type, CAST(sum(n) AS BIGINT) AS total
          |  FROM c GROUP BY from_type
          |)
          |SELECT c.from_type, c.to_type, c.n,
          |  floor(CAST(c.n AS DOUBLE) / t.total * 1e6 + 0.5) / 1e6 AS p
          |FROM c JOIN t USING (from_type)
          |ORDER BY from_type, to_type""".stripMargin,
      "events_lifecycle" ->
        """WITH weekly AS (
          |  SELECT DISTINCT user_id, epoch_us(date_trunc('week', ts)) AS week_us
          |  FROM events
          |), m AS (
          |  SELECT user_id, week_us,
          |    lag(week_us) OVER w AS prev, lead(week_us) OVER w AS nxt
          |  FROM weekly WINDOW w AS (PARTITION BY user_id ORDER BY week_us)
          |), states AS (
          |  SELECT week_us,
          |    CASE WHEN prev IS NULL THEN 'new'
          |         WHEN prev = week_us - 604800000000 THEN 'retained'
          |         ELSE 'resurrected' END AS state
          |  FROM m
          |  UNION ALL
          |  SELECT week_us + 604800000000 AS week_us, 'churned' AS state
          |  FROM m
          |  WHERE (nxt IS NULL OR nxt > week_us + 604800000000)
          |    AND week_us + 604800000000 <= (SELECT max(week_us) FROM weekly)
          |)
          |SELECT week_us,
          |  CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_new,
          |  CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_retained,
          |  CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_resurrected,
          |  CAST(sum(CASE WHEN state = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_churned
          |FROM states GROUP BY week_us ORDER BY week_us""".stripMargin,
      "events_attribution" ->
        """WITH e AS (
          |  SELECT *,
          |    last_value(CASE WHEN event_type <> 'purchase'
          |        THEN event_type END IGNORE NULLS) OVER w AS last_ch,
          |    last_value(CASE WHEN event_type <> 'purchase'
          |        THEN epoch_us(ts) END IGNORE NULLS) OVER w AS last_us,
          |    first_value(CASE WHEN event_type <> 'purchase'
          |        THEN event_type END IGNORE NULLS) OVER w AS first_ch
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |), conv AS (
          |  SELECT
          |    CASE WHEN last_ch IS NOT NULL
          |           AND epoch_us(ts) - last_us <= 604800000000
          |         THEN last_ch ELSE 'direct' END AS last_touch,
          |    COALESCE(first_ch, 'direct') AS first_touch,
          |    CAST(value AS DECIMAL(30,10)) AS rev
          |  FROM e WHERE event_type = 'purchase'
          |), bl AS (
          |  SELECT last_touch AS channel, count(*) AS n_last_touch,
          |    sum(rev) AS rev_last FROM conv GROUP BY 1
          |), bf AS (
          |  SELECT first_touch AS channel, count(*) AS n_first_touch
          |  FROM conv GROUP BY 1
          |)
          |SELECT COALESCE(bl.channel, bf.channel) AS channel,
          |  COALESCE(n_last_touch, 0) AS n_last_touch,
          |  round(CAST(COALESCE(rev_last, 0) AS DOUBLE), 6) AS rev_last_touch,
          |  COALESCE(n_first_touch, 0) AS n_first_touch
          |FROM bl FULL OUTER JOIN bf ON bl.channel = bf.channel
          |ORDER BY 1""".stripMargin,
      "events_rfm" ->
        """WITH mx AS (
          |  SELECT max(epoch_us(ts)) AS max_us FROM events
          |), u AS (
          |  SELECT user_id, max(epoch_us(ts)) AS last_us,
          |    count(*) AS frequency,
          |    sum(CAST(value AS DECIMAL(30,10))) AS mon
          |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
          |), s AS (
          |  SELECT user_id,
          |    CAST((max_us - last_us) // 86400000000 AS BIGINT) AS recency_days,
          |    frequency, mon
          |  FROM u, mx
          |)
          |SELECT user_id, recency_days, frequency,
          |  round(CAST(mon AS DOUBLE), 6) AS monetary,
          |  CASE WHEN recency_days <= 7 THEN 3
          |       WHEN recency_days <= 14 THEN 2 ELSE 1 END AS r_score,
          |  CASE WHEN frequency >= 10 THEN 3
          |       WHEN frequency >= 5 THEN 2 ELSE 1 END AS f_score,
          |  CASE WHEN mon >= 500 THEN 3
          |       WHEN mon >= 100 THEN 2 ELSE 1 END AS m_score,
          |  CAST(CASE WHEN recency_days <= 7 THEN 3
          |       WHEN recency_days <= 14 THEN 2 ELSE 1 END AS VARCHAR) ||
          |  CAST(CASE WHEN frequency >= 10 THEN 3
          |       WHEN frequency >= 5 THEN 2 ELSE 1 END AS VARCHAR) ||
          |  CAST(CASE WHEN mon >= 500 THEN 3
          |       WHEN mon >= 100 THEN 2 ELSE 1 END AS VARCHAR) AS segment
          |FROM s ORDER BY user_id""".stripMargin,
      "streaming_sessionize" ->
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
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
      "tick_time_bars" ->
        s"""SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bs,
          |  round(arg_min(value, ts), 6) AS open,
          |  round(max(value), 6) AS high,
          |  round(min(value), 6) AS low,
          |  round(arg_max(value, ts), 6) AS close,
          |  round(sum($SQL_VOL), 6) AS volume,
          |  round(CAST(sum(CAST(value * $SQL_VOL AS DECIMAL(30,10))) AS DOUBLE)
          |        / CAST(sum(CAST($SQL_VOL AS DECIMAL(30,10))) AS DOUBLE), 6) AS vwap,
          |  count(*) AS n_ticks
          |FROM events GROUP BY event_type, bs ORDER BY event_type, bs""".stripMargin,
      "tick_volume_bars" ->
        s"""WITH c AS (
          |  SELECT event_type, ts, value, $SQL_VOL AS vol,
          |    COALESCE(sum($SQL_VOL) OVER (PARTITION BY event_type ORDER BY ts
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
          |  FROM events)
          |SELECT event_type, CAST(floor(pre / 5000) AS BIGINT) AS bar,
          |  round(arg_min(value, ts), 6) AS open,
          |  round(max(value), 6) AS high,
          |  round(min(value), 6) AS low,
          |  round(arg_max(value, ts), 6) AS close,
          |  round(sum(vol), 6) AS volume,
          |  round(CAST(sum(CAST(value * vol AS DECIMAL(30,10))) AS DOUBLE)
          |        / CAST(sum(CAST(vol AS DECIMAL(30,10))) AS DOUBLE), 6) AS vwap,
          |  count(*) AS n_ticks
          |FROM c GROUP BY event_type, bar ORDER BY event_type, bar""".stripMargin,
      "tick_dollar_bars" ->
        s"""WITH c AS (
          |  SELECT event_type, ts, value, $SQL_VOL AS vol,
          |    COALESCE(sum(CAST(floor(value * $SQL_VOL * 100 + 0.5) AS BIGINT))
          |      OVER (PARTITION BY event_type ORDER BY ts
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
          |  FROM events)
          |SELECT event_type, CAST(floor(CAST(pre AS DOUBLE) / 50000000) AS BIGINT) AS bar,
          |  round(arg_min(value, ts), 6) AS open,
          |  round(max(value), 6) AS high,
          |  round(min(value), 6) AS low,
          |  round(arg_max(value, ts), 6) AS close,
          |  round(sum(vol), 6) AS volume,
          |  round(CAST(sum(CAST(value * vol AS DECIMAL(30,10))) AS DOUBLE)
          |        / CAST(sum(CAST(vol AS DECIMAL(30,10))) AS DOUBLE), 6) AS vwap,
          |  count(*) AS n_ticks
          |FROM c GROUP BY event_type, bar ORDER BY event_type, bar""".stripMargin,
      "quote_stats" ->
        """WITH e AS (
          |  SELECT event_type, value AS bid,
          |    value * (1.0 + (event_id % 50 + 1) / 10000.0) AS ask,
          |    (event_id % 100 + 1)::DOUBLE AS bs,
          |    (event_id % 73 + 1)::DOUBLE AS "as"
          |  FROM events
          |)
          |SELECT event_type,
          |  round(CAST(sum(CAST(ask - bid AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS avg_spread,
          |  round(CAST(sum(CAST((ask - bid) / ((bid + ask) / 2) * 10000.0 AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS avg_rel_spread_bps,
          |  round(CAST(sum(CAST((ask * bs + bid * "as") / (bs + "as") AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS avg_microprice
          |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
      "tick_effective_spread" ->
        // ASOF inner join mirrors the isNotNull filter; per-row
        // quantization inside the sum, floor-mean at the end.
        s"""WITH t AS (SELECT user_id, ts, $SQL_STABLE AS price FROM events WHERE event_type = 'purchase'),
          |q AS (SELECT user_id, ts,
          |  $SQL_STABLE - (event_id % 5 + 1) / 100.0 AS bid,
          |  $SQL_STABLE + (event_id % 5 + 1) / 100.0 AS ask
          |  FROM events WHERE event_type = 'view'),
          |j AS (
          |  SELECT t.user_id,
          |    CAST(floor(abs(t.price - (q.bid + q.ask) / 2) * 2 * 1e6 + 0.5) AS BIGINT) AS qeff,
          |    CAST(floor((q.ask - q.bid) * 1e6 + 0.5) AS BIGINT) AS qspr
          |  FROM t ASOF JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts
          |)
          |SELECT user_id, count(*) AS n_trades,
          |  floor(CAST(sum(qeff) AS DOUBLE) / count(*) + 0.5) / 1e6 AS avg_eff_spread,
          |  floor(CAST(sum(qspr) AS DOUBLE) / count(*) + 0.5) / 1e6 AS avg_quoted_spread
          |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,
      "tick_lee_ready" ->
        s"""WITH t0 AS (SELECT user_id, ts, event_id, $SQL_STABLE AS price FROM events WHERE event_type = 'purchase'),
          |t AS (SELECT *, CASE WHEN price > lag(price) OVER w THEN 1
          |                     WHEN price < lag(price) OVER w THEN -1
          |                     ELSE 0 END AS tick
          |      FROM t0 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |q AS (SELECT user_id, ts,
          |  $SQL_STABLE - (event_id % 5 + 1) / 100.0 AS bid,
          |  $SQL_STABLE + (event_id % 5 + 1) / 100.0 AS ask
          |  FROM events WHERE event_type = 'view'),
          |j AS (
          |  SELECT t.user_id,
          |    CASE WHEN t.price > (q.bid + q.ask) / 2 THEN 1
          |         WHEN t.price < (q.bid + q.ask) / 2 THEN -1
          |         ELSE t.tick END AS side
          |  FROM t ASOF JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts
          |)
          |SELECT user_id, count(*) AS n_trades,
          |  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_buy,
          |  CAST(sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sell,
          |  CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unclassified,
          |  round(sum(CASE WHEN side = 1 THEN 1.0 ELSE 0.0 END) / count(*), 6) AS buy_frac
          |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,
      "tick_realized_spread" ->
        // Two ASOF joins: backward (>=) for the prevailing mid,
        // forward (<=) from ts+5s for the future mid; tick-rule q.
        s"""WITH t0 AS (SELECT user_id, ts, event_id, $SQL_STABLE AS price FROM events WHERE event_type = 'purchase'),
          |t AS (SELECT *, CASE WHEN price > lag(price) OVER w THEN 1.0
          |                     WHEN price < lag(price) OVER w THEN -1.0
          |                     ELSE 1.0 END AS q
          |      FROM t0 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |qt AS (SELECT user_id, ts,
          |  $SQL_STABLE - (event_id % 5 + 1) / 100.0 AS bid,
          |  $SQL_STABLE + (event_id % 5 + 1) / 100.0 AS ask
          |  FROM events WHERE event_type = 'view'),
          |j1 AS (
          |  SELECT t.user_id, t.ts + INTERVAL 5 SECOND AS ts5, t.event_id,
          |    t.price, t.q, (qt.bid + qt.ask) / 2 AS mid0
          |  FROM t ASOF JOIN qt ON t.user_id = qt.user_id AND t.ts >= qt.ts
          |), qm AS (SELECT user_id, ts, (bid + ask) / 2 AS mid FROM qt),
          |j2 AS (
          |  SELECT j1.user_id,
          |    CAST(floor(j1.q * (j1.price - qm.mid) * 2 * 1e6 + 0.5) AS BIGINT) AS qr,
          |    CAST(floor(j1.q * (qm.mid - j1.mid0) * 2 * 1e6 + 0.5) AS BIGINT) AS qi
          |  FROM j1 ASOF JOIN qm ON j1.user_id = qm.user_id AND j1.ts5 <= qm.ts
          |)
          |SELECT user_id, count(*) AS n_trades,
          |  floor(CAST(sum(qr) AS DOUBLE) / count(*) + 0.5) / 1e6 AS avg_realized_spread,
          |  floor(CAST(sum(qi) AS DOUBLE) / count(*) + 0.5) / 1e6 AS avg_price_impact
          |FROM j2 GROUP BY user_id ORDER BY user_id""".stripMargin,
      "asof_latency" ->
        """WITH t AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
          |q AS (SELECT user_id, ts AS qts FROM events WHERE event_type = 'view')
          |SELECT t.user_id, count(*) AS n_trades,
          |  CAST(floor(CAST(sum(epoch_us(t.ts) - epoch_us(q.qts)) AS DOUBLE)
          |        / count(epoch_us(t.ts) - epoch_us(q.qts)) + 0.5) AS BIGINT) / 1e6 AS avg_latency_s
          |FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.qts
          |GROUP BY t.user_id ORDER BY t.user_id""".stripMargin,
      "asof_join" ->
        """WITH t AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
          |q AS (SELECT user_id, ts, event_id AS quote_id, value AS quote_value FROM events WHERE event_type = 'view')
          |SELECT t.user_id, t.event_id, round(t.value, 6) AS trade_value,
          |       q.quote_id, round(q.quote_value, 6) AS quote_value
          |FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts
          |ORDER BY t.event_id""".stripMargin,
      "asof_join_forward" ->
        """WITH t AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
          |q AS (SELECT user_id, ts, event_id AS quote_id, value AS quote_value FROM events WHERE event_type = 'view')
          |SELECT t.user_id, t.event_id, round(t.value, 6) AS trade_value,
          |       q.quote_id, round(q.quote_value, 6) AS quote_value
          |FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts <= q.ts
          |ORDER BY t.event_id""".stripMargin,
      // op 232: generate_series grid + the same backward ASOF fill.
      "df_upsample_ffill" ->
        """WITH b AS (
          |  SELECT event_type, date_trunc('hour', min(ts)) AS lo, max(ts) AS hi
          |  FROM events GROUP BY 1
          |), g AS (
          |  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS gts
          |  FROM b
          |), e AS (SELECT event_type, ts, event_id, value FROM events)
          |SELECT g.event_type, epoch_us(g.gts) AS ts_us,
          |  e.event_id AS src_event_id, round(e.value, 6) AS value
          |FROM g ASOF LEFT JOIN e
          |  ON g.event_type = e.event_type AND g.gts >= e.ts
          |ORDER BY g.event_type, ts_us""".stripMargin,
      // op 233: the same R-7 window-frame quantiles.
      "eod_rolling_median" ->
        s"""$R_CTE
          |SELECT event_type, event_id,
          |  round(quantile_cont(ret, 0.25) OVER w2, 6) + 0.0 AS roll_p25,
          |  round(quantile_cont(ret, 0.5) OVER w2, 6) + 0.0 AS roll_median,
          |  round(quantile_cont(ret, 0.75) OVER w2, 6) + 0.0 AS roll_p75
          |FROM r
          |WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
          |              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin,
      // op 231: both directional ASOF joins composed by the left's
      // unique event_id, the same ≤ tie-break to backward.
      "asof_join_nearest" ->
        """WITH t AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
          |q AS (SELECT user_id, ts, event_id AS quote_id, value AS quote_value FROM events WHERE event_type = 'view'),
          |b AS (SELECT t.user_id, t.event_id, t.value, t.ts,
          |        q.quote_id AS b_id, q.quote_value AS b_val, q.ts AS b_ts
          |      FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts),
          |f AS (SELECT t.event_id, q.quote_id AS f_id, q.quote_value AS f_val, q.ts AS f_ts
          |      FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts <= q.ts),
          |j AS (SELECT b.*, f.f_id, f.f_val, f.f_ts FROM b JOIN f USING (event_id)),
          |sel AS (
          |  SELECT user_id, event_id, value,
          |    (f_ts IS NULL OR (b_ts IS NOT NULL AND
          |       epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts))) AS use_b,
          |    b_id, b_val, epoch_us(ts) - epoch_us(b_ts) AS b_age,
          |    f_id, f_val, epoch_us(f_ts) - epoch_us(ts) AS f_age
          |  FROM j
          |)
          |SELECT user_id, event_id, round(value, 6) AS trade_value,
          |  CASE WHEN use_b THEN b_id ELSE f_id END AS quote_id,
          |  round(CASE WHEN use_b THEN b_val ELSE f_val END, 6) AS quote_value,
          |  CASE WHEN use_b THEN b_age ELSE f_age END AS dist_us
          |FROM sel ORDER BY event_id""".stripMargin,
      // Tolerance-bounded as-of: ASOF match, then a stale (> 1 day)
      // match reverts to the null outcome — mirrors backwardWithin.
      "asof_join_tolerance" ->
        """WITH t AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
          |q AS (SELECT user_id, ts, event_id AS quote_id, value AS quote_value FROM events WHERE event_type = 'view'),
          |j AS (SELECT t.user_id, t.event_id, t.value, q.quote_id, q.quote_value,
          |      epoch_us(t.ts) - epoch_us(q.ts) AS age_us
          |      FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts)
          |SELECT user_id, event_id, round(value, 6) AS trade_value,
          |  CASE WHEN age_us <= 86400000000 THEN quote_id END AS quote_id,
          |  CASE WHEN age_us <= 86400000000 THEN round(quote_value, 6) END AS quote_value,
          |  CASE WHEN age_us <= 86400000000 THEN age_us END AS age_us
          |FROM j ORDER BY event_id""".stripMargin,
      // Binned range join: the oracle states the plain BETWEEN
      // semantics (fine at oracle scale); integer-µs domain on both
      // sides, decimal sum, zero-match windows kept by the left join,
      // + 0.0 normalizes any -0.0 from round().
      "range_join_agg" ->
        """WITH c AS (SELECT event_id AS interval_id, epoch_us(ts) AS lo_us,
          |             epoch_us(ts) + 600000000 AS hi_us
          |           FROM events WHERE event_type = 'click'),
          |v AS (SELECT epoch_us(ts) AS p_us, value FROM events WHERE event_type = 'view'),
          |a AS (SELECT c.interval_id, count(*) AS n_views,
          |             CAST(sum(CAST(v.value AS DECIMAL(30,10))) AS DOUBLE) AS sv
          |      FROM c JOIN v ON v.p_us BETWEEN c.lo_us AND c.hi_us
          |      GROUP BY 1)
          |SELECT c.interval_id, coalesce(a.n_views, 0) AS n_views,
          |       round(a.sv, 6) + 0.0 AS sum_value
          |FROM c LEFT JOIN a USING (interval_id)
          |ORDER BY c.interval_id""".stripMargin,
      // Multimodal kernel oracles: the synthetic PNG is lossless, so the
      // decoded raster is pixel(x,y) = digest[(x+y) mod 16] with digest
      // byte i rebuilt from md5 hex nibbles 2i+1, 2i+2 via strpos; each
      // oracle then replays the kernel's arithmetic exactly (IEEE-double
      // bilinear taps for resize, integer-division gridlines for frames,
      // mod-dim sample histogram for embed).
      "mm_resize" ->
        """WITH b AS (SELECT doc_id, md5(text) AS hx FROM documents),
          |d AS (
          |  SELECT doc_id, list_transform(range(0, 16), i ->
          |    (strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16
          |    + strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1) AS bytes
          |  FROM b
          |), dim AS (
          |  SELECT doc_id, 1 + bytes[1] % 64 AS w, 1 + bytes[2] % 64 AS h, bytes
          |  FROM d
          |), sxy AS (
          |  SELECT doc_id, w, h, bytes,
          |    least(greatest((ox.range + 0.5) * w / 8.0 - 0.5, 0), w - 1) AS sx,
          |    least(greatest((oy.range + 0.5) * h / 8.0 - 0.5, 0), h - 1) AS sy
          |  FROM dim CROSS JOIN range(0, 8) ox CROSS JOIN range(0, 8) oy
          |), ip AS (
          |  SELECT doc_id, bytes,
          |    CAST(floor(sx) AS BIGINT) AS x0, CAST(floor(sy) AS BIGINT) AS y0,
          |    least(CAST(floor(sx) AS BIGINT) + 1, w - 1) AS x1,
          |    least(CAST(floor(sy) AS BIGINT) + 1, h - 1) AS y1,
          |    sx - floor(sx) AS fx, sy - floor(sy) AS fy
          |  FROM sxy
          |), p AS (
          |  SELECT doc_id,
          |    floor((1 - fy) * ((1 - fx) * bytes[((x0 + y0) % 16) + 1]
          |                      + fx * bytes[((x1 + y0) % 16) + 1])
          |        + fy * ((1 - fx) * bytes[((x0 + y1) % 16) + 1]
          |                + fx * bytes[((x1 + y1) % 16) + 1]) + 0.5) AS px
          |  FROM ip
          |)
          |SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
          |  floor(sum(px) / 64.0 * 1e6 + 0.5) / 1e6 AS mean_pixel
          |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "mm_frames" ->
        """WITH b AS (SELECT doc_id, md5(text) AS hx FROM documents),
          |d AS (
          |  SELECT doc_id, list_transform(range(0, 16), i ->
          |    (strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16
          |    + strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1) AS bytes
          |  FROM b
          |), dim AS (
          |  SELECT doc_id, 1 + bytes[1] % 64 AS w, 1 + bytes[2] % 64 AS h, bytes
          |  FROM d
          |), t AS (
          |  SELECT doc_id, w, h, bytes, ty.range * 2 + tx.range AS frame_idx,
          |    (tx.range * w) // 2 AS x0, ((tx.range + 1) * w) // 2 AS x1,
          |    (ty.range * h) // 2 AS y0, ((ty.range + 1) * h) // 2 AS y1
          |  FROM dim CROSS JOIN range(0, 2) tx CROSS JOIN range(0, 2) ty
          |), px AS (
          |  SELECT doc_id, frame_idx, x1 - x0 AS fw, y1 - y0 AS fh,
          |    bytes[((x.range + y.range) % 16) + 1] AS p
          |  FROM t CROSS JOIN range(0, 64) x CROSS JOIN range(0, 64) y
          |  WHERE x1 > x0 AND y1 > y0
          |    AND x.range >= x0 AND x.range < x1 AND y.range >= y0 AND y.range < y1
          |)
          |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
          |  CAST(fw AS BIGINT) AS width, CAST(fh AS BIGINT) AS height,
          |  floor(sum(p)::DOUBLE / (fw * fh) * 1e6 + 0.5) / 1e6 AS mean_px
          |FROM px GROUP BY doc_id, frame_idx, fw, fh
          |ORDER BY doc_id, frame_idx""".stripMargin,
      // op 243: the same md5-derived PCM samples, integer frame sums.
      "mm_audio" ->
        """WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
          |d AS (
          |  SELECT doc_id, list_transform(range(0, 16), i ->
          |    (strpos('0123456789abcdef', substr(h, 2*i + 1, 1)) - 1) * 16
          |    + strpos('0123456789abcdef', substr(h, 2*i + 2, 1)) - 1) AS bytes
          |  FROM b
          |), nn AS (SELECT doc_id, bytes, 256 + (bytes[1] % 8) * 64 AS n FROM d),
          |smp AS (
          |  SELECT doc_id, i.range AS i,
          |    CAST(floor(i.range / 64) AS BIGINT) AS frame_id,
          |    ((bytes[(i.range % 16) + 1]
          |      + i.range * (bytes[((i.range + 5) % 16) + 1] % 7)) % 256) - 128 AS s
          |  FROM nn CROSS JOIN range(0, 1024) i WHERE i.range < n
          |), sgn AS (
          |  SELECT doc_id, frame_id, i, s,
          |    CASE WHEN s >= 0 THEN 1 ELSE -1 END AS sg,
          |    lag(CASE WHEN s >= 0 THEN 1 ELSE -1 END) OVER (
          |      PARTITION BY doc_id, frame_id ORDER BY i) AS pg
          |  FROM smp
          |)
          |SELECT doc_id, frame_id, CAST(64 AS BIGINT) AS n_samples,
          |  round(sqrt(CAST(sum(s * s) AS DOUBLE) / 64), 6) AS rms,
          |  round(CAST(sum(CASE WHEN pg IS NOT NULL AND sg <> pg THEN 1 ELSE 0 END) AS DOUBLE) / 63, 6) AS zcr
          |FROM sgn GROUP BY doc_id, frame_id
          |ORDER BY doc_id, frame_id""".stripMargin,
      "mm_embed" ->
        """WITH b AS (SELECT doc_id, md5(text) AS hx FROM documents),
          |d AS (
          |  SELECT doc_id, list_transform(range(0, 16), i ->
          |    (strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16
          |    + strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1) AS bytes
          |  FROM b
          |), dim AS (
          |  SELECT doc_id, 1 + bytes[1] % 64 AS w, 1 + bytes[2] % 64 AS h, bytes
          |  FROM d
          |), px AS (
          |  SELECT doc_id, bytes[((x.range + y.range) % 16) + 1] % 64 AS bin
          |  FROM dim CROSS JOIN range(0, 64) x CROSS JOIN range(0, 64) y
          |  WHERE x.range < w AND y.range < h
          |), c AS (
          |  SELECT doc_id, bin, count(*) AS cnt FROM px GROUP BY doc_id, bin
          |), r AS (
          |  SELECT doc_id, bin,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bin) AS rn,
          |    count(*) OVER (PARTITION BY doc_id) AS n_bins
          |  FROM c
          |)
          |SELECT doc_id, CAST(n_bins AS BIGINT) AS n_bins,
          |  CAST(bin AS BIGINT) AS top_bin
          |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      "pipeline_clean_corpus" ->
        s"""WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
          |sc AS (
          |  SELECT doc_id, text, toks,
          |    0.4 * least(length(text) / 200.0, 1.0) +
          |    0.4 * (len(list_filter(toks, x -> $stopCond)) / greatest(len(toks), 1)) +
          |    0.2 * (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / greatest(len(toks), 1), 1.0)) AS q,
          |    $langScores
          |  FROM t
          |),
          |kept AS (
          |  SELECT doc_id, text, toks, CASE $langCase ELSE 'unknown' END AS lang
          |  FROM sc WHERE q >= 0.5
          |),
          |canon AS (
          |  SELECT doc_id, lang, toks,
          |    min(doc_id) OVER (PARTITION BY md5(text)) AS cid
          |  FROM kept
          |)
          |SELECT lang, count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS total_tokens
          |FROM canon WHERE doc_id = cid GROUP BY lang ORDER BY lang""".stripMargin,
      // Predicts the REAL ImageIO decode: digest bytes from md5 nibbles,
      // dims (1+d0%64, 1+d1%64), pixel(x,y) = d[(x+y)%16]; mean over the
      // w×h grid via bounded range + filter (DuckDB range() wants
      // constant args). Lossless PNG → decoded samples = formula.
      "mm_decode" ->
        """WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
          |d AS (
          |  SELECT doc_id, list_transform(range(0, 16), i ->
          |    (strpos('0123456789abcdef', substr(h, 2*i + 1, 1)) - 1) * 16
          |    + strpos('0123456789abcdef', substr(h, 2*i + 2, 1)) - 1) AS bytes
          |  FROM b
          |), dim AS (
          |  SELECT doc_id, 1 + bytes[1] % 64 AS w, 1 + bytes[2] % 64 AS h, bytes
          |  FROM d
          |), px AS (
          |  SELECT doc_id, w, h, bytes[((x.range + y.range) % 16) + 1] AS p
          |  FROM dim CROSS JOIN range(0, 64) x CROSS JOIN range(0, 64) y
          |  WHERE x.range < w AND y.range < h
          |)
          |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
          |  round(sum(p)::DOUBLE / (w * h), 6) AS mean_px
          |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
      // op 385: the mm_decode pixel replay (the PNG is the md5 grid)
      // → 9×8 nearest-sample dHash bits → 4×16-bit bands → the same
      // band-blocked candidate join and Hamming ≤ 10 cut.
      "mm_phash_dedup" ->
        s"""WITH $CORPUS_CTE, $PHASH_CTE, ham AS (
          |  SELECT id_a, id_b,
          |    CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
          |      + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3))
          |      AS BIGINT) AS hamming
          |  FROM cand JOIN hv a ON a.doc_id = id_a JOIN hv b ON b.doc_id = id_b
          |)
          |SELECT id_a, id_b, hamming FROM ham
          |WHERE hamming <= 10 ORDER BY id_a, id_b""".stripMargin,
      // op 404: the cand set graded raw against exact all-pairs
      // Hamming≤10 truth (brute nested-loop over the n×4-long hv
      // relation — eval-scoped, like every op-169 truth chain).
      "dedup_eval_phash" ->
        s"""WITH $CORPUS_CTE, $PHASH_CTE, truth AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM hv a JOIN hv b ON a.doc_id < b.doc_id
          |  WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
          |    + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) <= 10
          |), hit AS (SELECT * FROM cand INTERSECT SELECT * FROM truth)
          |SELECT
          |  (SELECT count(*) FROM truth) AS n_truth,
          |  (SELECT count(*) FROM cand) AS n_found,
          |  (SELECT count(*) FROM hit) AS n_hit,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM cand), 6) AS precision,
          |  round((SELECT count(*) FROM hit)::DOUBLE /
          |        (SELECT count(*) FROM truth), 6) AS recall""".stripMargin,
      "ann_topk_lsh" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |qb AS (SELECT query_id, qv, ${lshBucketSql("qv")} AS bucket FROM q),
          |cb AS (SELECT neighbor_id, cv, ${lshBucketSql("cv")} AS bucket FROM c),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM cb JOIN qb USING (bucket)
          |), r AS (
          |  SELECT query_id, neighbor_id, cosine,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM s
          |)
          |SELECT query_id, rnk, neighbor_id, round(cosine, 6) AS cosine
          |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
      // op 384: the ann_topk_lsh candidate chain with the range
      // predicate on the RAW cosine (both engines compute the
      // identical double, so the ≥ 0.25 cut is engine-exact).
      "ann_range_search" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |qb AS (SELECT query_id, qv, ${lshBucketSql("qv")} AS bucket FROM q),
          |cb AS (SELECT neighbor_id, cv, ${lshBucketSql("cv")} AS bucket FROM c),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM cb JOIN qb USING (bucket)
          |)
          |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine
          |FROM s WHERE cosine >= 0.25
          |ORDER BY query_id, neighbor_id""".stripMargin,
      // Same two-chain recall shape, approx side on qv[1:32]/cv[1:32]
      // (DuckDB list slices are 1-based inclusive = first 32 dims).
      "ann_recall_truncated" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |sb AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c
          |), gt AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sb) WHERE rnk <= 3
          |), st AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv[1:${EmbDim / 2}], cv[1:${EmbDim / 2}]) /
          |      (sqrt(list_dot_product(qv[1:${EmbDim / 2}], qv[1:${EmbDim / 2}])) *
          |       sqrt(list_dot_product(cv[1:${EmbDim / 2}], cv[1:${EmbDim / 2}]))) AS cosine
          |  FROM q CROSS JOIN c
          |), ap AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM st) WHERE rnk <= 3
          |)
          |SELECT gt.query_id,
          |  CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
          |  round(CAST(count(ap.neighbor_id) AS DOUBLE) / 3, 6) AS recall
          |FROM gt LEFT JOIN ap ON gt.query_id = ap.query_id
          |  AND gt.neighbor_id = ap.neighbor_id
          |GROUP BY gt.query_id ORDER BY gt.query_id""".stripMargin,
      // Both top-3 CTEs replayed (brute = ground truth, LSH =
      // approx), intersected per query; left join keeps recall-0 rows.
      "ann_recall" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |sb AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c
          |), gt AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sb) WHERE rnk <= 3
          |),
          |qb AS (SELECT query_id, qv, ${lshBucketSql("qv")} AS bucket FROM q),
          |cb AS (SELECT neighbor_id, cv, ${lshBucketSql("cv")} AS bucket FROM c),
          |sl AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM cb JOIN qb USING (bucket)
          |), ap AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sl) WHERE rnk <= 3
          |)
          |SELECT gt.query_id,
          |  CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
          |  round(CAST(count(ap.neighbor_id) AS DOUBLE) / 3, 6) AS recall
          |FROM gt LEFT JOIN ap ON gt.query_id = ap.query_id
          |  AND gt.neighbor_id = ap.neighbor_id
          |GROUP BY gt.query_id ORDER BY gt.query_id""".stripMargin,
      // op 318: same integer discount table over the same LSH/brute
      // CTEs; per-query DCG an exact long sum, one double division.
      "ann_ndcg" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |sb AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c
          |), gt AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sb) WHERE rnk <= 3
          |),
          |qb AS (SELECT query_id, qv, ${lshBucketSql("qv")} AS bucket FROM q),
          |cb AS (SELECT neighbor_id, cv, ${lshBucketSql("cv")} AS bucket FROM c),
          |sl AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM cb JOIN qb USING (bucket)
          |), ap AS (
          |  SELECT query_id, neighbor_id, rnk FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sl) WHERE rnk <= 3
          |), sc AS (
          |  SELECT ap.query_id,
          |    sum(CASE WHEN gt.neighbor_id IS NOT NULL THEN
          |      CASE ap.rnk WHEN 1 THEN 1000000000
          |                  WHEN 2 THEN 630929754 ELSE 500000000 END
          |      ELSE 0 END) AS dcg,
          |    CAST(sum(CASE WHEN gt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_hits
          |  FROM ap LEFT JOIN gt ON gt.query_id = ap.query_id
          |    AND gt.neighbor_id = ap.neighbor_id
          |  GROUP BY ap.query_id
          |)
          |SELECT q.query_id,
          |  coalesce(n_hits, 0) AS n_hits,
          |  round(CAST(coalesce(dcg, 0) AS DOUBLE) / 2130929754.0, 6) AS ndcg
          |FROM q LEFT JOIN sc ON sc.query_id = q.query_id
          |ORDER BY q.query_id""".stripMargin,
      "ann_topk_ivf" -> ivfOracle(labeled = false),
      // op 237: the ivfOracle chain with qr swept over the probe
      // levels via a lateral probe-level join; hits vs the shared
      // brute ground truth.
      "ann_recall_vs_probes" ->
        """WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
          |cent AS (SELECT neighbor_id AS cell_id, cv AS centv FROM c ORDER BY neighbor_id LIMIT 16),
          |ccells AS (
          |  SELECT neighbor_id, cv, cell_id FROM (
          |    SELECT c.neighbor_id, c.cv, cent.cell_id,
          |      row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
          |        list_dot_product(c.cv, cent.centv) /
          |          (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(cent.centv, cent.centv))) DESC,
          |        cent.cell_id) AS cr
          |    FROM c CROSS JOIN cent
          |  ) WHERE cr <= 1
          |),
          |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
          |sb AS (
          |  SELECT query_id, neighbor_id,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c
          |), gt AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM sb) WHERE rnk <= 3
          |), pr AS (
          |  SELECT query_id, qv, cell_id,
          |    row_number() OVER (PARTITION BY query_id ORDER BY
          |      list_dot_product(qv, centv) /
          |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(centv, centv))) DESC,
          |      cell_id) AS qr
          |  FROM q CROSS JOIN cent
          |), lv AS (SELECT unnest([1, 2, 4]) AS n_probe),
          |cand AS (
          |  SELECT lv.n_probe, pr.query_id, ccells.neighbor_id,
          |    list_dot_product(pr.qv, ccells.cv) /
          |      (sqrt(list_dot_product(pr.qv, pr.qv)) * sqrt(list_dot_product(ccells.cv, ccells.cv))) AS cosine
          |  FROM pr JOIN lv ON pr.qr <= lv.n_probe
          |  JOIN ccells ON pr.cell_id = ccells.cell_id
          |), ap AS (
          |  SELECT n_probe, query_id, neighbor_id FROM (
          |    SELECT n_probe, query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY n_probe, query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |    FROM cand) WHERE rnk <= 3
          |), h AS (
          |  SELECT n_probe, count(*) AS total_hits
          |  FROM ap JOIN gt USING (query_id, neighbor_id) GROUP BY n_probe
          |)
          |SELECT lv.n_probe, (SELECT count(*) FROM q) AS n_queries,
          |  CAST(COALESCE(h.total_hits, 0) AS BIGINT) AS total_hits,
          |  round(CAST(COALESCE(h.total_hits, 0) AS DOUBLE) /
          |        CAST((SELECT count(*) FROM q) * 3 AS DOUBLE), 6) AS recall
          |FROM lv LEFT JOIN h USING (n_probe) ORDER BY lv.n_probe""".stripMargin,
      // kNN graph: both LSH tables replayed (offsets 0 and 4), pair
      // dedup by max over identical cosines, self-pairs excluded.
      "ann_knn_graph" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |t0 AS (
          |  SELECT vec_id, v, 0 AS tbl, ${lshBucketSqlAt("v", 0, 4)} AS bucket FROM e
          |  UNION ALL
          |  SELECT vec_id, v, 4 AS tbl, ${lshBucketSqlAt("v", 4, 4)} AS bucket FROM e
          |), t AS (
          |  SELECT * FROM (
          |    SELECT *, count(*) OVER (PARTITION BY tbl, bucket) AS bc FROM t0
          |  ) WHERE bc <= 10000
          |), p AS (
          |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          |    max(list_dot_product(a.v, b.v) /
          |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) AS cosine
          |  FROM t a JOIN t b ON a.tbl = b.tbl AND a.bucket = b.bucket
          |  WHERE b.vec_id <> a.vec_id
          |  GROUP BY 1, 2
          |), r AS (
          |  SELECT query_id, neighbor_id, cosine,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM p
          |)
          |SELECT query_id, rnk, neighbor_id, round(cosine, 6) AS cosine
          |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
      // op 317: the op-150 edge CTE verbatim, then 3 PageRank
      // iterations unrolled — every step integer division on the 1e-9
      // grid (// is BIGINT floor division; both engines drop identical
      // remainders), so ranks match bit-for-bit.
      "embed_pagerank" -> {
        val iters = (1 to 3).map { i =>
          s"""i$i AS (
             |  SELECT dst, sum(rq // od) AS inflow
             |  FROM g JOIN od USING (src)
             |  JOIN r${i - 1} ON r${i - 1}.vec_id = g.src
             |  GROUP BY dst
             |), r$i AS (
             |  SELECT emb.vec_id,
             |    150000000 // nn + (17 * coalesce(inflow, 0)) // 20 AS rq
             |  FROM (SELECT vec_id FROM embeddings) emb CROSS JOIN nn
             |  LEFT JOIN i$i ON i$i.dst = emb.vec_id
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH $KNN_EDGE_CTES, od AS (SELECT src, count(*) AS od FROM g GROUP BY src),
          |nn AS (SELECT count(*) AS nn FROM embeddings),
          |r0 AS (
          |  SELECT vec_id, 1000000000 // nn AS rq
          |  FROM embeddings CROSS JOIN nn
          |), $iters
          |SELECT vec_id, CAST(rq AS DOUBLE) / 1e9 AS pagerank
          |FROM r3 ORDER BY vec_id""".stripMargin
      },
      // op 365: same brute top-10, same 1e-9 quantization, same
      // 7·rel − 3·maxsim integer greedy unrolled 3 steps.
      "embed_mmr_rerank" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
          |c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e WHERE vec_id >= 5),
          |sc AS (
          |  SELECT query_id, neighbor_id, cv,
          |    list_dot_product(qv, cv) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
          |      AS cosine
          |  FROM c CROSS JOIN q
          |), top AS (
          |  SELECT query_id, neighbor_id, cv, cosine,
          |    CAST(floor(cosine * 1e9 + 0.5) AS BIGINT) AS relq
          |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |    ORDER BY cosine DESC, neighbor_id) AS rnk FROM sc)
          |  WHERE rnk <= 10
          |), pair AS (
          |  SELECT a.query_id, a.neighbor_id AS ni, b.neighbor_id AS nj,
          |    CAST(floor(list_dot_product(a.cv, b.cv) /
          |      (sqrt(list_dot_product(a.cv, a.cv))
          |       * sqrt(list_dot_product(b.cv, b.cv))) * 1e9 + 0.5)
          |      AS BIGINT) AS simq
          |  FROM top a JOIN top b
          |    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
          |), p1 AS (
          |  SELECT query_id, neighbor_id AS s1 FROM (
          |    SELECT query_id, neighbor_id, row_number() OVER (
          |      PARTITION BY query_id ORDER BY relq DESC, neighbor_id) AS r
          |    FROM top) WHERE r = 1
          |), r2 AS (
          |  SELECT t.query_id, t.neighbor_id,
          |    7 * t.relq - 3 * p.simq AS score
          |  FROM top t
          |  JOIN p1 ON p1.query_id = t.query_id AND t.neighbor_id <> p1.s1
          |  JOIN pair p ON p.query_id = t.query_id
          |    AND p.ni = t.neighbor_id AND p.nj = p1.s1
          |), p2 AS (
          |  SELECT query_id, neighbor_id AS s2 FROM (
          |    SELECT query_id, neighbor_id, row_number() OVER (
          |      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r
          |    FROM r2) WHERE r = 1
          |), r3 AS (
          |  SELECT t.query_id, t.neighbor_id,
          |    7 * t.relq - 3 * greatest(pa.simq, pb.simq) AS score
          |  FROM top t
          |  JOIN p1 ON p1.query_id = t.query_id AND t.neighbor_id <> p1.s1
          |  JOIN p2 ON p2.query_id = t.query_id AND t.neighbor_id <> p2.s2
          |  JOIN pair pa ON pa.query_id = t.query_id
          |    AND pa.ni = t.neighbor_id AND pa.nj = p1.s1
          |  JOIN pair pb ON pb.query_id = t.query_id
          |    AND pb.ni = t.neighbor_id AND pb.nj = p2.s2
          |), p3 AS (
          |  SELECT query_id, neighbor_id AS s3 FROM (
          |    SELECT query_id, neighbor_id, row_number() OVER (
          |      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r
          |    FROM r3) WHERE r = 1
          |), picks AS (
          |  SELECT query_id, CAST(1 AS BIGINT) AS pick, s1 AS neighbor_id
          |    FROM p1
          |  UNION ALL SELECT query_id, 2, s2 FROM p2
          |  UNION ALL SELECT query_id, 3, s3 FROM p3
          |)
          |SELECT picks.query_id, pick, picks.neighbor_id,
          |  round(top.cosine, 6) AS cosine
          |FROM picks JOIN top
          |  ON top.query_id = picks.query_id
          |  AND top.neighbor_id = picks.neighbor_id
          |ORDER BY picks.query_id, pick""".stripMargin,
      // op 360: same edge CTEs, same majority vote (count desc, label
      // asc), exact-count accuracy on the q6 grid.
      "ann_knn_classifier" ->
        s"""WITH $KNN_EDGE_CTES, votes AS (
          |  SELECT g.src AS query_id, e2.label AS nlabel, count(*) AS v
          |  FROM g JOIN embeddings e2 ON e2.vec_id = g.dst
          |  GROUP BY 1, 2
          |), pred AS (
          |  SELECT query_id AS vec_id, nlabel AS pred
          |  FROM (
          |    SELECT *, row_number() OVER (PARTITION BY query_id
          |      ORDER BY v DESC, nlabel) AS r
          |    FROM votes
          |  ) WHERE r = 1
          |)
          |SELECT CAST(e.label AS BIGINT) AS label,
          |  count(*) AS n,
          |  CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_correct,
          |  floor(CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS accuracy
          |FROM pred p JOIN embeddings e USING (vec_id)
          |GROUP BY e.label ORDER BY label""".stripMargin,
      // op 341: same edge CTEs, canonical-order triangle joins, q6
      // floor on the exact-integer coefficient division.
      "ann_triangles" ->
        s"""WITH $KNN_EDGE_CTES, und AS (
          |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
          |  FROM g GROUP BY 1, 2
          |), tri AS (
          |  SELECT e1.a, e1.b, e2.c
          |  FROM und e1
          |  JOIN (SELECT a AS b, b AS c FROM und) e2 USING (b)
          |  JOIN (SELECT a, b AS c FROM und) e3 USING (a, c)
          |), pv AS (
          |  SELECT v AS vec_id, count(*) AS n_tri FROM (
          |    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
          |    UNION ALL SELECT c FROM tri)
          |  GROUP BY 1
          |), dg AS (
          |  SELECT v AS vec_id, count(*) AS degree FROM (
          |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
          |  GROUP BY 1
          |)
          |SELECT dg.vec_id, degree,
          |  CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles,
          |  CASE WHEN degree >= 2
          |    THEN floor(2.0 * coalesce(n_tri, 0) / (degree * (degree - 1))
          |      * 1e6 + 0.5) / 1e6
          |    ELSE 0.0 END AS clustering
          |FROM dg LEFT JOIN pv USING (vec_id) ORDER BY vec_id""".stripMargin,
      "sim_quotes" ->
        s"""WITH $QUOTES_CTE
          |SELECT ticker, ts_us, bid, ask, bid_size, ask_size, exchange, day
          |FROM quotes ORDER BY day, ts_us, bid""".stripMargin,
      "sim_quotes_universe" ->
        s"""WITH ${quotesCteFor(Seq("AAA", "BBB", "CCC"), 2, 2000)}
          |SELECT ticker, ts_us, bid, ask, bid_size, ask_size, exchange, day
          |FROM quotes ORDER BY ticker, day, ts_us""".stripMargin,
      "sim_quotes_full" ->
        s"""WITH $QUOTES_CTE
          |SELECT ticker, ts_us, bid, ask, bid_size, ask_size, exchange, day,
          |  bid_exchange, conditions, indicators, participant_timestamp,
          |  sequence_number, sip_timestamp, tape, trf_timestamp
          |FROM quotes ORDER BY day, ts_us, bid""".stripMargin,
      "sim_trades_full" ->
        s"""WITH $QUOTES_CTE, th AS (
          |  SELECT *, md5('42_' || ticker || '_' || ts_us || '_take') AS h_take,
          |    md5('42_' || ticker || '_' || ts_us || '_side') AS h_side,
          |    md5('42_' || ticker || '_' || ts_us || '_sz') AS h_sz,
          |    md5('42_' || ticker || '_' || ts_us || '_tsip') AS h_tsip,
          |    md5('42_' || ticker || '_' || ts_us || '_ttape') AS h_ttape,
          |    md5('42_' || ticker || '_' || ts_us || '_trfid') AS h_trfid,
          |    md5('42_' || ticker || '_' || ts_us || '_ttrf') AS h_ttrf
          |  FROM quotes
          |), tu AS (
          |  SELECT *,
          |    ${w8("h_take")} / 4294967296.0 AS u_take,
          |    ${w8("h_side")} / 4294967296.0 AS u_side,
          |    ${w8("h_sz")} / 4294967296.0 AS u_sz,
          |    ${w8("h_tsip")} / 4294967296.0 AS u_tsip,
          |    ${w8("h_ttape")} / 4294967296.0 AS u_ttape,
          |    ${w8("h_trfid")} / 4294967296.0 AS u_trfid,
          |    ${w8("h_ttrf")} / 4294967296.0 AS u_ttrf
          |  FROM th
          |), tf AS (SELECT * FROM tu WHERE u_take < 0.1),
          |tn AS (
          |  SELECT *, count(*) OVER (PARTITION BY ticker, day) AS npd,
          |    row_number() OVER (PARTITION BY ticker, day ORDER BY ts_us) AS rn
          |  FROM tf
          |)
          |SELECT ticker, ts_us,
          |  CASE WHEN u_side < 0.5 THEN ask ELSE bid END AS price,
          |  CAST(floor(1000000 / npd * (0.5 + u_sz)) AS BIGINT) AS size,
          |  CAST(CASE WHEN u_side < 0.5 THEN 1 ELSE -1 END AS BIGINT) AS side,
          |  exchange, day,
          |  '0' AS conditions, CAST(NULL AS BIGINT) AS correction,
          |  1000000 + rn - 1 AS id,
          |  ts_us * 1000 AS participant_timestamp,
          |  2000000 + rn - 1 AS sequence_number,
          |  ts_us * 1000 + 5000 + CAST(floor(u_tsip * 195000) AS BIGINT) AS sip_timestamp,
          |  CAST(CASE WHEN exchange IN (10, 11, 1) THEN 1
          |            WHEN exchange IN (12, 2) THEN 3
          |            WHEN exchange IN (201, 202) THEN CAST(floor(u_ttape * 3) AS INT) + 1
          |            ELSE 2 END AS BIGINT) AS tape,
          |  CAST(floor(u_trfid * 3) AS BIGINT) AS trf_id,
          |  ts_us * 1000 + 10000 + CAST(floor(u_ttrf * 390000) AS BIGINT) AS trf_timestamp
          |FROM tn ORDER BY day, ts_us""".stripMargin,
      // op 391: the same integer sizes, the same quantized per-tick
      // imbalance and floor-mean.
      "tick_depth_imbalance" ->
        s"""WITH $QUOTES_CTE, qi AS (
          |  SELECT ticker, day, bid_size, ask_size,
          |    CAST(floor((bid_size - ask_size)::DOUBLE * 1e6
          |      / (bid_size + ask_size)::DOUBLE) AS BIGINT) AS imb_q
          |  FROM quotes
          |)
          |SELECT ticker, day, count(*) AS n_quotes,
          |  floor(sum(imb_q)::DOUBLE / count(*) + 0.5) / 1e6 AS mean_imbalance,
          |  floor(sum(CASE WHEN bid_size > ask_size THEN 1 ELSE 0 END)::DOUBLE
          |    / count(*) * 1e6 + 0.5) / 1e6 AS bid_heavy_frac
          |FROM qi GROUP BY ticker, day ORDER BY ticker, day""".stripMargin,
      // op 372: quote count / trade count per (ticker, day), trades
      // replayed by the same md5 take-coin as the sim_trades oracle.
      "tick_quote_trade_ratio" ->
        s"""WITH $QUOTES_CTE, th AS (
          |  SELECT *, md5('42_' || ticker || '_' || ts_us || '_take') AS h_take
          |  FROM quotes
          |), tf AS (
          |  SELECT * FROM th WHERE ${w8("h_take")} / 4294967296.0 < 0.1
          |), nq AS (
          |  SELECT ticker, day, count(*) AS n_quotes FROM quotes GROUP BY 1, 2
          |), nt AS (
          |  SELECT ticker, day, count(*) AS n_trades FROM tf GROUP BY 1, 2
          |)
          |SELECT ticker, day, n_quotes, n_trades,
          |  floor(n_quotes::DOUBLE / n_trades::DOUBLE * 1e6 + 0.5) / 1e6
          |    AS quote_trade_ratio
          |FROM nq JOIN nt USING (ticker, day)
          |ORDER BY ticker, day""".stripMargin,
      "sim_trades" ->
        s"""WITH $QUOTES_CTE, th AS (
          |  SELECT *, md5('42_' || ticker || '_' || ts_us || '_take') AS h_take,
          |    md5('42_' || ticker || '_' || ts_us || '_side') AS h_side,
          |    md5('42_' || ticker || '_' || ts_us || '_sz') AS h_sz
          |  FROM quotes
          |), tu AS (
          |  SELECT *,
          |    ${w8("h_take")} / 4294967296.0 AS u_take,
          |    ${w8("h_side")} / 4294967296.0 AS u_side,
          |    ${w8("h_sz")} / 4294967296.0 AS u_sz
          |  FROM th
          |), tf AS (SELECT * FROM tu WHERE u_take < 0.1),
          |tn AS (
          |  SELECT *, count(*) OVER (PARTITION BY ticker, day) AS npd FROM tf
          |)
          |SELECT ticker, ts_us,
          |  CASE WHEN u_side < 0.5 THEN ask ELSE bid END AS price,
          |  CAST(floor(1000000 / npd * (0.5 + u_sz)) AS BIGINT) AS size,
          |  CAST(CASE WHEN u_side < 0.5 THEN 1 ELSE -1 END AS BIGINT) AS side,
          |  exchange, day
          |FROM tn ORDER BY day, ts_us, price""".stripMargin,
      "sim_event_flags" ->
        s"""WITH $QUOTES_CTE, whd AS (
          |  SELECT t.range AS day, md5('42_' || t.range || '_p') AS h_p,
          |    md5('42_' || t.range || '_n') AS h_n
          |  FROM range(0, 2) t
          |), wd AS (
          |  SELECT day,
          |    CASE WHEN ${w8("h_p")} / 4294967296.0 > 0.5 THEN 0
          |         ELSE CAST(floor(${w8("h_n")} / 4294967296.0 * 3) AS BIGINT) + 1 END AS total
          |  FROM whd
          |), eh AS (
          |  SELECT day, md5('42_' || (day * 1000 + i.range) || '_d') AS h_d,
          |    md5('42_' || (day * 1000 + i.range) || '_s') AS h_s
          |  FROM wd CROSS JOIN range(0, 3) i WHERE i.range < total
          |), evd AS (
          |  SELECT day,
          |    600000000 + CAST(floor(${w8("h_d")} / 4294967296.0 * 3000000000) AS BIGINT) AS dur,
          |    ${w8("h_s")} / 4294967296.0 AS u_s
          |  FROM eh
          |), evw AS (
          |  SELECT day, start_us, start_us + dur AS end_us FROM (
          |    SELECT day, dur,
          |      1712928600000000 + day * 86400000000
          |        + CAST(floor(u_s * (23400000000 - dur)) AS BIGINT) AS start_us
          |    FROM evd
          |  )
          |)
          |SELECT day, CAST(sum(CASE WHEN in_ev THEN 1 ELSE 0 END) AS BIGINT) AS n_event_ticks,
          |  count(*) AS n_ticks
          |FROM (
          |  SELECT q.day AS day,
          |    EXISTS(SELECT 1 FROM evw e
          |           WHERE e.day = q.day AND q.ts_us >= e.start_us
          |             AND q.ts_us < e.end_us) AS in_ev
          |  FROM quotes q
          |)
          |GROUP BY day ORDER BY day""".stripMargin,
      "text_pii_stats" ->
        s"""WITH $CONTACT_CTE
          |SELECT c_custkey,
          |  len(regexp_extract_all(text, '${Pii.EmailPattern}')) AS n_email,
          |  len(regexp_extract_all(text, '${Pii.PhonePattern}')) AS n_phone,
          |  len(regexp_extract_all(text, '${Pii.Ipv4Pattern}')) AS n_ipv4,
          |  len(regexp_extract_all(text, '${Pii.EmailPattern}'))
          |    + len(regexp_extract_all(text, '${Pii.PhonePattern}'))
          |    + len(regexp_extract_all(text, '${Pii.Ipv4Pattern}')) > 0 AS has_pii
          |FROM contact""".stripMargin,
      "text_pii_redact" ->
        s"""WITH $CONTACT_CTE
          |SELECT c_custkey,
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(text, '${Pii.EmailPattern}', '[EMAIL]', 'g'),
          |      '${Pii.Ipv4Pattern}', '[IP]', 'g'),
          |    '${Pii.PhonePattern}', '[PHONE]', 'g') AS redacted
          |FROM contact""".stripMargin,
      "corpus_lm_score" ->
        """WITH t AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          |  FROM documents
          |), f AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
          |tot AS (SELECT sum(c)::DOUBLE AS n FROM f),
          |q AS (
          |  SELECT doc_id,
          |    CAST(floor((ln(n) - ln(c::DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS q
          |  FROM t JOIN f USING (tok) CROSS JOIN tot
          |)
          |SELECT doc_id,
          |  floor(sum(q)::DOUBLE / count(*) + 0.5) / 1e6 AS lm_xent,
          |  count(*) AS n_tokens
          |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // op 383: the op-83 xent chain, ntile(3) on the identical
      // (quantized xent, doc_id) order, the same floor-mean.
      "corpus_ppl_buckets" ->
        """WITH t AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          |  FROM documents
          |), f AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
          |tot AS (SELECT sum(c)::DOUBLE AS n FROM f),
          |q AS (
          |  SELECT doc_id,
          |    CAST(floor((ln(n) - ln(c::DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS q
          |  FROM t JOIN f USING (tok) CROSS JOIN tot
          |), lm AS (
          |  SELECT doc_id,
          |    floor(sum(q)::DOUBLE / count(*) + 0.5) / 1e6 AS lm_xent,
          |    count(*) AS n_tokens
          |  FROM q GROUP BY doc_id
          |), b AS (
          |  SELECT lang, n_tokens, lm_xent,
          |    ntile(3) OVER (PARTITION BY lang
          |                   ORDER BY lm_xent, lm.doc_id) AS b
          |  FROM lm JOIN documents USING (doc_id)
          |)
          |SELECT lang,
          |  CASE WHEN b = 1 THEN 'head' WHEN b = 2 THEN 'middle'
          |       ELSE 'tail' END AS bucket,
          |  count(*) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
          |  floor(sum(CAST(floor(lm_xent * 1e6 + 0.5) AS BIGINT))::DOUBLE
          |    / count(*) + 0.5) / 1e6 AS mean_xent
          |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
      "dedup_chunks" ->
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          |  FROM documents
          |), ch AS (
          |  SELECT doc_id,
          |    unnest(range(0, greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1))) AS pos,
          |    unnest(list_transform(
          |      range(0, greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1)),
          |      i -> array_to_string(list_slice(toks, i*10 + 1, i*10 + 10), ' '))) AS chunk
          |  FROM t
          |), h AS (SELECT doc_id, pos, chunk, md5(chunk) AS hh FROM ch),
          |f AS (SELECT hh, count(*) AS c FROM h GROUP BY hh)
          |SELECT doc_id,
          |  count(*) AS n_chunks,
          |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
          |  coalesce(array_to_string(
          |    list(chunk ORDER BY pos) FILTER (WHERE c < 2), ' '), '') AS clean_text
          |FROM h JOIN f USING (hh)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // Curation v2: the corpus_lm_score and dedup_windows chains over
      // the SAME corpus, joined, filtered, per-lang accounted.
      "pipeline_curate_v2" ->
        (s"""WITH $CORPUS_CTE,
          |lt AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM corpus),
          |lf AS (SELECT tok, count(*) AS c FROM lt GROUP BY tok),
          |ltot AS (SELECT sum(c)::DOUBLE AS n FROM lf),
          |lq AS (SELECT doc_id,
          |  CAST(floor((ln(n) - ln(c::DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS q
          |  FROM lt JOIN lf USING (tok) CROSS JOIN ltot),
          |lm AS (SELECT doc_id,
          |  floor(sum(q)::DOUBLE / count(*) + 0.5) / 1e6 AS lm_xent,
          |  count(*) AS n_tokens FROM lq GROUP BY doc_id),
          |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM corpus),
          |""".stripMargin +
          "g AS (SELECT doc_id, " +
          "unnest(list_transform(range(1, greatest(len(toks)-7, 1) + 1), i -> i - 1)) AS pos, " +
          "unnest(list_transform(range(1, greatest(len(toks)-7, 1) + 1), " +
          "i -> md5(array_to_string(toks[i:i+7], ' ')))) AS h FROM t), " +
          "freq AS (SELECT h, count(*) AS c FROM g GROUP BY h), " +
          "fl AS (SELECT doc_id, pos, (c >= 2) AS dup FROM g JOIN freq USING (h)), " +
          "runs AS (SELECT doc_id, max(rn) AS max_dup_run FROM (" +
          "SELECT doc_id, grp, count(*) AS rn FROM (" +
          "SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp " +
          "FROM fl WHERE dup) GROUP BY doc_id, grp) GROUP BY doc_id) " +
          "SELECT d.lang, count(*) AS n_docs, CAST(sum(lm.n_tokens) AS BIGINT) AS n_tokens " +
          "FROM lm LEFT JOIN runs ON lm.doc_id = runs.doc_id " +
          "JOIN documents d ON (lm.doc_id % 1000000) = d.doc_id " +
          "WHERE lm.lm_xent < 3.43 AND coalesce(runs.max_dup_run, 0) <= 2 " +
          "GROUP BY d.lang ORDER BY lang"),
      // Two-phase fixed-size sample: Bernoulli pre-filter at
      // oversample·n/count, exact top-n by (coin, id) over survivors.
      "corpus_sample_n" ->
        (s"""WITH d AS (SELECT doc_id, source FROM documents),
          |c AS (SELECT source, count(*) AS cnt FROM d GROUP BY source),
          |u AS (SELECT doc_id, source,
          |  ${w8("md5(doc_id::VARCHAR)")} / 4294967296.0 AS u, cnt
          |  FROM d JOIN c USING (source)),
          |f AS (SELECT doc_id, source, u FROM u WHERE u < least(1.0, 20.0 / cnt)),
          |r AS (SELECT doc_id, source,
          |  row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rnk FROM f)
          |SELECT source, doc_id FROM r WHERE rnk <= 5
          |ORDER BY source, doc_id""".stripMargin),
      // Temperature-scaled mixture weights: share^alpha quantized to
      // 1e-6 longs before normalizing; floor-quantized outputs.
      "corpus_mixture" ->
        ("""WITH t AS (SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS ntok FROM documents),
          |per AS (SELECT source, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens FROM t GROUP BY source),
          |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM per),
          |sc AS (SELECT source, n_docs, n_tokens,
          |  CAST(n_tokens AS DOUBLE) / tt AS share,
          |  CAST(floor(pow(CAST(n_tokens AS DOUBLE) / tt, 0.5) * 1e6 + 0.5) AS BIGINT) AS qs
          |  FROM per CROSS JOIN tot),
          |qt AS (SELECT CAST(sum(qs) AS BIGINT) AS qtot FROM sc)
          |SELECT source, n_docs, n_tokens,
          |  floor(share * 1e6 + 0.5) / 1e6 AS share,
          |  floor(CAST(qs AS DOUBLE) / qtot * 1e6 + 0.5) / 1e6 AS weight
          |FROM sc CROSS JOIN qt ORDER BY source""".stripMargin),
      // op 293: the window replay of the same water level — first
      // ascending position where the prefix covers the budget; exact
      // integer-in-double arithmetic, identical division order.
      "corpus_unimax" ->
        """WITH per AS (
          |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
          |), tot AS (
          |  SELECT count(*) AS nl, CAST(sum(n_docs) AS DOUBLE) * 0.6 AS b
          |  FROM per
          |), o AS (
          |  SELECT lang, n_docs, nl, b,
          |    row_number() OVER (ORDER BY n_docs, lang) AS i,
          |    CAST(coalesce(sum(n_docs) OVER (ORDER BY n_docs, lang
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS DOUBLE) AS p
          |  FROM per CROSS JOIN tot
          |), th AS (
          |  SELECT (b - p) / (nl - i + 1.0) AS theta
          |  FROM o WHERE p + n_docs * (nl - i + 1.0) >= b
          |  ORDER BY i LIMIT 1
          |)
          |SELECT lang, n_docs,
          |  round(CASE WHEN theta IS NULL THEN CAST(n_docs AS DOUBLE)
          |    ELSE least(CAST(n_docs AS DOUBLE), theta) END, 4) AS alloc,
          |  round(CASE WHEN theta IS NULL THEN CAST(n_docs AS DOUBLE)
          |    ELSE least(CAST(n_docs AS DOUBLE), theta) END
          |    / n_docs, 6) AS epochs
          |FROM per LEFT JOIN th ON true ORDER BY lang""".stripMargin,
      // Entropy + KL vs pooled corpus: per-term 1e-6-quantized long
      // contributions, integer sums, divide by n_s at the end.
      "corpus_kl" ->
        ("""WITH t AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
          |st AS (SELECT source, tok, count(*) AS cst FROM t GROUP BY 1, 2),
          |gl AS (SELECT tok, CAST(sum(cst) AS BIGINT) AS ct FROM st GROUP BY 1),
          |ns AS (SELECT source, CAST(sum(cst) AS BIGINT) AS ns, count(*) AS vocab FROM st GROUP BY 1),
          |n AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM gl),
          |q AS (SELECT st.source, ns.ns, ns.vocab,
          |  CAST(floor(cst * (ln(cst) - ln(ns.ns) - ln(ct) + ln(n.n)) * 1e6 + 0.5) AS BIGINT) AS qkl,
          |  CAST(floor(cst * (ln(ns.ns) - ln(cst)) * 1e6 + 0.5) AS BIGINT) AS qh
          |  FROM st JOIN gl USING (tok) JOIN ns USING (source) CROSS JOIN n)
          |SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens,
          |  CAST(max(vocab) AS BIGINT) AS vocab,
          |  floor(CAST(sum(qh) AS DOUBLE) / max(ns) + 0.5) / 1e6 AS entropy,
          |  floor(CAST(sum(qkl) AS DOUBLE) / max(ns) + 0.5) / 1e6 AS kl_from_corpus
          |FROM q GROUP BY source ORDER BY source""".stripMargin),
      // op 172: the budget plan's rate CTEs + the md5-coin filter +
      // one keyed agg — the executed schedule.
      "corpus_budget_sample" ->
        (s"""WITH t AS (SELECT source, len(regexp_split_to_array(trim(text), '\\s+')) AS ntok FROM documents),
          |per AS (SELECT source, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens FROM t GROUP BY source),
          |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM per),
          |sc AS (SELECT source, n_tokens,
          |  CAST(floor(pow(CAST(n_tokens AS DOUBLE) / tt, 0.5) * 1e6 + 0.5) AS BIGINT) AS qs
          |  FROM per CROSS JOIN tot),
          |qt AS (SELECT CAST(sum(qs) AS BIGINT) AS qtot FROM sc),
          |rt AS (SELECT source, n_tokens,
          |  CAST(floor(floor(CAST(qs AS DOUBLE) / qtot * 1e6 + 0.5) / 1e6 * 100000 + 0.5) AS BIGINT) AS target_tokens,
          |  floor(least(1.0, CAST(CAST(floor(floor(CAST(qs AS DOUBLE) / qtot * 1e6 + 0.5) / 1e6 * 100000 + 0.5) AS BIGINT) AS DOUBLE) / n_tokens) * 1e6 + 0.5) / 1e6 AS rate
          |  FROM sc CROSS JOIN qt)
          |SELECT d.source, count(*) AS n_kept,
          |  CAST(sum(len(regexp_split_to_array(trim(d.text), '\\s+'))) AS BIGINT) AS tokens_kept,
          |  CAST(max(rt.target_tokens) AS BIGINT) AS target_tokens
          |FROM documents d JOIN rt ON d.source = rt.source
          |WHERE ${w8("md5(d.doc_id::VARCHAR)")} / 4294967296.0 < rt.rate
          |GROUP BY d.source ORDER BY d.source""".stripMargin),
      // mixtureWeights replayed, extended with the budget arithmetic
      // (all on the quantized weight grid — engine-exact).
      "corpus_token_budget" ->
        ("""WITH t AS (SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS ntok FROM documents),
          |per AS (SELECT source, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens FROM t GROUP BY source),
          |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM per),
          |sc AS (SELECT source, n_docs, n_tokens,
          |  CAST(floor(pow(CAST(n_tokens AS DOUBLE) / tt, 0.5) * 1e6 + 0.5) AS BIGINT) AS qs
          |  FROM per CROSS JOIN tot),
          |qt AS (SELECT CAST(sum(qs) AS BIGINT) AS qtot FROM sc),
          |wmix AS (SELECT source, n_docs, n_tokens,
          |  floor(CAST(qs AS DOUBLE) / qtot * 1e6 + 0.5) / 1e6 AS weight
          |  FROM sc CROSS JOIN qt),
          |pl AS (SELECT *, CAST(floor(weight * 100000 + 0.5) AS BIGINT) AS target_tokens FROM wmix),
          |rt AS (SELECT *, floor(least(1.0, CAST(target_tokens AS DOUBLE) / n_tokens) * 1e6 + 0.5) / 1e6 AS rate FROM pl)
          |SELECT source, n_docs, n_tokens, weight, target_tokens, rate,
          |  CAST(floor(rate * n_tokens + 0.5) AS BIGINT) AS expected_tokens
          |FROM rt ORDER BY source""".stripMargin),
      // Overlapping windows with positions; islands trick (pos −
      // row_number constant within a run) for the longest dup run.
      "dedup_windows" ->
        (s"""WITH $CORPUS_CTE,
          |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM corpus),
          |""".stripMargin +
          "g AS (SELECT doc_id, " +
          "unnest(list_transform(range(1, greatest(len(toks)-7, 1) + 1), i -> i - 1)) AS pos, " +
          "unnest(list_transform(range(1, greatest(len(toks)-7, 1) + 1), " +
          "i -> md5(array_to_string(toks[i:i+7], ' ')))) AS h FROM t), " +
          "freq AS (SELECT h, count(*) AS c FROM g GROUP BY h), " +
          "fl AS (SELECT doc_id, pos, (c >= 2) AS dup FROM g JOIN freq USING (h)), " +
          "tot AS (SELECT doc_id, count(*) AS n_windows, " +
          "CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows " +
          "FROM fl GROUP BY doc_id), " +
          "runs AS (SELECT doc_id, max(rn) AS max_dup_run FROM (" +
          "SELECT doc_id, grp, count(*) AS rn FROM (" +
          "SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp " +
          "FROM fl WHERE dup) GROUP BY doc_id, grp) GROUP BY doc_id) " +
          "SELECT tot.doc_id, n_windows, n_dup_windows, " +
          "coalesce(max_dup_run, 0) AS max_dup_run " +
          "FROM tot LEFT JOIN runs USING (doc_id) ORDER BY doc_id"),
      "embed_kmeans" ->
        (s"WITH ${kmeansCtes("SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings", 8, 2)} " +
          "SELECT id AS vec_id, cid AS cluster FROM akm ORDER BY vec_id"),
      // op 389: the op-85 assignment replay joined to labels — exact
      // integer contingency, the same ln composition (round 6).
      "embed_cluster_purity" ->
        (s"WITH ${kmeansCtes("SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings", 8, 2)}, " +
          """ct AS (
            |  SELECT akm.cid AS cluster, e.label, count(*) AS n
            |  FROM akm JOIN embeddings e ON e.vec_id = akm.id
            |  GROUP BY akm.cid, e.label
            |), rowt AS (SELECT cluster, CAST(sum(n) AS BIGINT) AS nc FROM ct GROUP BY cluster),
            |colt AS (SELECT label, CAST(sum(n) AS BIGINT) AS nl FROM ct GROUP BY label),
            |nt AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM ct),
            |pur AS (
            |  SELECT CAST(sum(mx) AS BIGINT) AS pur_num
            |  FROM (SELECT cluster, max(n) AS mx FROM ct GROUP BY cluster)
            |), hc AS (
            |  SELECT sum(-(nc::DOUBLE / nn) * ln(nc::DOUBLE / nn)) AS h_c
            |  FROM rowt CROSS JOIN nt
            |), hl AS (
            |  SELECT sum(-(nl::DOUBLE / nn) * ln(nl::DOUBLE / nn)) AS h_l
            |  FROM colt CROSS JOIN nt
            |), mi AS (
            |  SELECT sum((n::DOUBLE / nn) * ln(nn::DOUBLE * n / (nc::DOUBLE * nl))) AS mi
            |  FROM ct JOIN rowt USING (cluster) JOIN colt USING (label)
            |  CROSS JOIN nt
            |), nclus AS (SELECT count(*) AS n_clusters FROM rowt)
            |SELECT nn AS n, n_clusters,
            |  floor(pur_num::DOUBLE / nn * 1e6 + 0.5) / 1e6 AS purity,
            |  round(CASE WHEN h_c > 0 AND h_l > 0
            |    THEN mi / sqrt(h_c * h_l) END, 6) + 0.0 AS nmi
            |FROM nt CROSS JOIN nclus CROSS JOIN pur
            |CROSS JOIN hc CROSS JOIN hl CROSS JOIN mi""".stripMargin),
      "embed_pq_codes" ->
        (s"WITH $PQ_CTES SELECT id AS vec_id, sub, code FROM enc " +
          "ORDER BY vec_id, sub"),
      "ann_topk_pq" ->
        (s"WITH $PQ_CTES, " +
          "q AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5), " +
          "dt AS (SELECT qs.id AS query_id, cb.sub, cb.cid, " +
          "CAST(floor((list_dot_product(qs.sv, qs.sv) - 2 * list_dot_product(qs.sv, cb.cv) " +
          "+ list_dot_product(cb.cv, cb.cv)) * 1e6 + 0.5) AS BIGINT) AS d2q " +
          "FROM (SELECT id, s.range AS sub, list_slice(v, s.range*8 + 1, s.range*8 + 8) AS sv " +
          "FROM q, range(0, 8) s) qs JOIN cb ON qs.sub = cb.sub), " +
          "adc AS (SELECT dt.query_id, enc.id AS neighbor_id, sum(dt.d2q) AS sq " +
          "FROM enc JOIN dt ON enc.sub = dt.sub AND enc.code = dt.cid " +
          "GROUP BY dt.query_id, enc.id) " +
          "SELECT query_id, r AS rnk, neighbor_id, CAST(sq AS DOUBLE) / 1e6 AS adc_d2 FROM (" +
          "SELECT query_id, neighbor_id, sq, row_number() OVER (PARTITION BY query_id " +
          "ORDER BY sq, neighbor_id) AS r FROM adc) WHERE r <= 3 " +
          "ORDER BY query_id, rnk"),
      "embed_pq_trained" ->
        (s"WITH ${pqTrainedCtes(16, 2)} " +
          "SELECT id AS vec_id, sub, code FROM enc ORDER BY vec_id, sub"),
      // IVF+PQ: same enc/dt as ann_topk_pq, with the ADC join gated by
      // the corpus cell assignment × the query's nProbe probed cells.
      "ann_topk_ivfpq" ->
        (s"WITH $PQ_CTES, " +
          "cells AS (SELECT id AS cell_id, v AS centv FROM v ORDER BY id LIMIT 16), " +
          "cc AS (SELECT id, cell_id FROM (" +
          "SELECT v.id, cells.cell_id, row_number() OVER (PARTITION BY v.id " +
          "ORDER BY list_dot_product(cells.centv, cells.centv) " +
          "- 2 * list_dot_product(v.v, cells.centv), cells.cell_id) AS r " +
          "FROM v CROSS JOIN cells) WHERE r = 1), " +
          "q AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5), " +
          "qc AS (SELECT qid, cell_id FROM (" +
          "SELECT q.id AS qid, cells.cell_id, row_number() OVER (PARTITION BY q.id " +
          "ORDER BY list_dot_product(cells.centv, cells.centv) " +
          "- 2 * list_dot_product(q.v, cells.centv), cells.cell_id) AS r " +
          "FROM q CROSS JOIN cells) WHERE r <= 4), " +
          "dt AS (SELECT qs.id AS query_id, cb.sub, cb.cid, " +
          "CAST(floor((list_dot_product(qs.sv, qs.sv) - 2 * list_dot_product(qs.sv, cb.cv) " +
          "+ list_dot_product(cb.cv, cb.cv)) * 1e6 + 0.5) AS BIGINT) AS d2q " +
          "FROM (SELECT id, s.range AS sub, list_slice(v, s.range*8 + 1, s.range*8 + 8) AS sv " +
          "FROM q, range(0, 8) s) qs JOIN cb ON qs.sub = cb.sub), " +
          "adc AS (SELECT dt.query_id, enc.id AS neighbor_id, sum(dt.d2q) AS sq " +
          "FROM enc JOIN cc ON enc.id = cc.id JOIN qc ON cc.cell_id = qc.cell_id " +
          "JOIN dt ON enc.sub = dt.sub AND enc.code = dt.cid AND qc.qid = dt.query_id " +
          "GROUP BY dt.query_id, enc.id) " +
          "SELECT query_id, r AS rnk, neighbor_id, CAST(sq AS DOUBLE) / 1e6 AS adc_d2 FROM (" +
          "SELECT query_id, neighbor_id, sq, row_number() OVER (PARTITION BY query_id " +
          "ORDER BY sq, neighbor_id) AS r FROM adc) WHERE r <= 3 " +
          "ORDER BY query_id, rnk"),
      "dedup_semantic" ->
        (s"WITH $SEM_CTES $SEM_PAIRS_SELECT ORDER BY id_a, id_b"),
      // SemDeDup verdicts: pair graph → recursive closure (the
      // dedup_clusters pattern) → keep the farthest-from-centroid
      // member per component (d2q DESC, id ASC), canonical = kept id.
      "dedup_semantic_verdict" ->
        (s"WITH RECURSIVE $SEM_CTES, " +
          s"pairs AS ($SEM_PAIRS_SELECT), " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
          "UNION SELECT id_b, id_a FROM pairs), " +
          "reach AS (SELECT src, dst FROM edges " +
          "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src " +
          "WHERE e.dst != r.src), " +
          "comp AS (SELECT src AS id, least(src, min(dst)) AS component " +
          "FROM reach GROUP BY src), " +
          "d AS (SELECT akm.id, " +
          "CAST(floor((list_dot_product(akm.v, akm.v) + (list_dot_product(c2.cv, c2.cv) " +
          "- 2 * list_dot_product(akm.v, c2.cv))) * 1e6 + 0.5) AS BIGINT) AS d2q " +
          "FROM akm JOIN c2 USING (cid)), " +
          "kept AS (SELECT component, id AS keep_id FROM (" +
          "SELECT comp.id, comp.component, row_number() OVER (PARTITION BY component " +
          "ORDER BY d.d2q DESC, comp.id) AS r FROM comp JOIN d ON comp.id = d.id) " +
          "WHERE r = 1) " +
          "SELECT comp.id AS vec_id, comp.component, " +
          "comp.id = kept.keep_id AS keep, kept.keep_id AS canonical_id " +
          "FROM comp JOIN kept USING (component) ORDER BY vec_id"),
      // Cluster pruning: the kmeans chain's final assignment joined
      // back to its centroids; d² = |x|² + (|c|² − 2·x·c), same
      // association and 1e-6 quantization as Cluster.clusterPrune.
      "embed_prune" ->
        (s"WITH ${kmeansCtes("SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings", 8, 2)}, " +
          "d AS (SELECT akm.id, akm.cid, " +
          "CAST(floor((list_dot_product(akm.v, akm.v) + (list_dot_product(c2.cv, c2.cv) " +
          "- 2 * list_dot_product(akm.v, c2.cv))) * 1e6 + 0.5) AS BIGINT) AS d2q " +
          "FROM akm JOIN c2 USING (cid)) " +
          "SELECT id AS vec_id, cid AS cluster, CAST(d2q AS DOUBLE) / 1e6 AS dist2, " +
          "rnk, rnk <= ceil(0.5 * cnt) AS keep FROM (" +
          "SELECT id, cid, d2q, row_number() OVER (PARTITION BY cid " +
          "ORDER BY d2q DESC, id) AS rnk, " +
          "count(*) OVER (PARTITION BY cid) AS cnt FROM d) " +
          "ORDER BY vec_id"),
      // SQ8: per-dimension corpus [min,max] ranges; code/recon/error
      // formulas written with identical association to Embed.scala.
      "embed_sq8" ->
        ("WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "e AS (SELECT id, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS x FROM v), " +
          "st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM e GROUP BY pos), " +
          "c AS (SELECT id, pos, x, mn, mx, " +
          "CASE WHEN mx = mn THEN 0 ELSE " +
          "CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT) END AS code " +
          "FROM e JOIN st USING (pos)), " +
          "r AS (SELECT id, pos, code, " +
          "CAST(floor(abs(x - (mn + CAST(code AS DOUBLE) / 255.0 * (mx - mn))) * 1e6 " +
          "+ 0.5) AS BIGINT) AS eq FROM c) " +
          "SELECT id AS vec_id, " +
          "md5(string_agg(code::VARCHAR, ',' ORDER BY pos)) AS code_digest, " +
          "CAST(max(eq) AS DOUBLE) / 1e6 AS max_abs_err, " +
          "sum(eq)::DOUBLE / count(*) / 1e6 AS mean_abs_err " +
          "FROM r GROUP BY id ORDER BY vec_id"),
      // op 198: the 6 power-iteration steps unrolled as generated
      // CTEs — identical integer folds, identical DECIMAL(19,0)²
      // norms, identical floor re-quantization, so v replays
      // bit-for-bit; pos here is 0-based (range(0,64) zipped with the
      // component unnest) because pos IS an output column.
      "embed_power_iter" -> {
        val iterCtes = (1 to 6).map { t =>
          s"""s$t AS (
            |  SELECT id, CAST(floor(CAST(sum(xq * vq) AS BIGINT) / 1e4) AS BIGINT) AS ssc
            |  FROM e JOIN v${t - 1} USING (pos) GROUP BY id
            |), w$t AS (
            |  SELECT pos, CAST(sum(xq * ssc) AS BIGINT) AS w
            |  FROM e JOIN s$t USING (id) GROUP BY pos
            |), n$t AS (
            |  SELECT sqrt(CAST(sum(CAST(w AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0))) AS DOUBLE)) AS nrm FROM w$t
            |), v$t AS (
            |  SELECT pos, CAST(floor(CAST(w AS DOUBLE) / nrm * 1e4 + 0.5) AS BIGINT) AS vq
            |  FROM w$t, n$t
            |)""".stripMargin
        }.mkString(",\n")
        s"""WITH x0 AS (
          |  SELECT vec_id AS id, unnest(range(0, 64)) AS pos,
          |    unnest(embedding::DOUBLE[]) AS x
          |  FROM embeddings
          |), q0 AS (
          |  SELECT id, pos, x, CAST(floor(x * 1e4 + 0.5) AS BIGINT) AS xq0
          |  FROM x0
          |), m AS (
          |  SELECT pos, CAST(sum(xq0) AS DOUBLE) / count(*) / 1e4 AS mu,
          |    count(*) AS n, CAST(sum(xq0 * xq0) AS BIGINT) AS sxx,
          |    CAST(sum(xq0) AS BIGINT) AS sx
          |  FROM q0 GROUP BY pos
          |), e AS (
          |  SELECT id, q0.pos, CAST(floor((x - mu) * 1e4 + 0.5) AS BIGINT) AS xq
          |  FROM q0 JOIN m ON q0.pos = m.pos
          |), v0 AS (SELECT pos, 1250::BIGINT AS vq FROM m),
          |$iterCtes,
          |tv AS (
          |  SELECT CAST(sum(CAST((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n / 1e8 AS DECIMAL(30,12))) AS DOUBLE) AS totvar,
          |    CAST(max(n) AS DOUBLE) AS nn
          |  FROM m
          |)
          |SELECT pos, round(vq / 1e4, 4) + 0.0 AS loading,
          |  round(nrm / 1e8 / nn, 6) + 0.0 AS eigval,
          |  round(nrm / 1e8 / nn / totvar, 4) + 0.0 AS var_share
          |FROM v6, n6, tv ORDER BY pos""".stripMargin
      },
      // op 327: the op-198 CTE chain through v6, then the exact-long
      // per-vector coefficient and the same floored projection.
      "embed_whitening" -> {
        val iterCtes = (1 to 6).map { t =>
          s"""s$t AS (
            |  SELECT id, CAST(floor(CAST(sum(xq * vq) AS BIGINT) / 1e4) AS BIGINT) AS ssc
            |  FROM e JOIN v${t - 1} USING (pos) GROUP BY id
            |), w$t AS (
            |  SELECT pos, CAST(sum(xq * ssc) AS BIGINT) AS w
            |  FROM e JOIN s$t USING (id) GROUP BY pos
            |), n$t AS (
            |  SELECT sqrt(CAST(sum(CAST(w AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0))) AS DOUBLE)) AS nrm FROM w$t
            |), v$t AS (
            |  SELECT pos, CAST(floor(CAST(w AS DOUBLE) / nrm * 1e4 + 0.5) AS BIGINT) AS vq
            |  FROM w$t, n$t
            |)""".stripMargin
        }.mkString(",\n")
        s"""WITH x0 AS (
          |  SELECT vec_id AS id, unnest(range(0, 64)) AS pos,
          |    unnest(embedding::DOUBLE[]) AS x
          |  FROM embeddings
          |), q0 AS (
          |  SELECT id, pos, x, CAST(floor(x * 1e4 + 0.5) AS BIGINT) AS xq0
          |  FROM x0
          |), m AS (
          |  SELECT pos, CAST(sum(xq0) AS DOUBLE) / count(*) / 1e4 AS mu
          |  FROM q0 GROUP BY pos
          |), e AS (
          |  SELECT id, q0.pos, CAST(floor((x - mu) * 1e4 + 0.5) AS BIGINT) AS xq
          |  FROM q0 JOIN m ON q0.pos = m.pos
          |), v0 AS (SELECT pos, 1250::BIGINT AS vq FROM m),
          |$iterCtes,
          |d AS (
          |  SELECT id, CAST(sum(xq * vq) AS BIGINT) AS d
          |  FROM e JOIN v6 USING (pos) GROUP BY id
          |)
          |SELECT id AS vec_id, pos,
          |  (xq - CAST(floor(CAST(d AS DOUBLE) * vq / 1e8 + 0.5) AS BIGINT))
          |    / 1e4 AS xw
          |FROM e JOIN v6 USING (pos) JOIN d USING (id)
          |ORDER BY vec_id, pos""".stripMargin
      },
      // op 193: same integer (label, dim) sums, same exact centroid
      // ratios, DECIMAL-cast per-dim term sums; pos is 1-based here
      // vs 0-based in Spark — it is only an internal join key.
      "embed_class_scatter" ->
        """WITH v AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
          |e AS (SELECT label, unnest(range(1, len(v) + 1)) AS pos,
          |      CAST(floor(unnest(v) * 1e6 + 0.5) AS BIGINT) AS xq FROM v),
          |bl AS (SELECT label, pos, count(*) AS n,
          |       CAST(sum(xq) AS BIGINT) AS sq,
          |       CAST(sum(xq * xq) AS BIGINT) AS sq2
          |       FROM e GROUP BY 1, 2),
          |g AS (SELECT pos, CAST(sum(sq) AS BIGINT) AS gsq,
          |      CAST(sum(n) AS BIGINT) AS gn FROM bl GROUP BY pos),
          |d AS (SELECT label, n,
          |      (CAST(sq2 AS DOUBLE) / n - pow(CAST(sq AS DOUBLE) / n, 2)) / 1e12 AS vard,
          |      pow(CAST(sq AS DOUBLE) / n - CAST(gsq AS DOUBLE) / gn, 2) AS diffsq
          |      FROM bl JOIN g USING (pos)),
          |a AS (SELECT label, max(n) AS n_vecs,
          |      CAST(sum(CAST(vard AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS wv,
          |      CAST(sum(CAST(diffsq AS DECIMAL(38,6))) AS DOUBLE) / 1e12 AS bsq
          |      FROM d GROUP BY label)
          |SELECT label, n_vecs, round(wv, 6) AS within_var,
          |  round(sqrt(bsq), 6) AS between_dist,
          |  round(CASE WHEN wv > 0 THEN bsq / wv END, 6) + 0.0 AS fisher
          |FROM a ORDER BY label""".stripMargin,
      // JL projection: ±1 signs from md5 nibble parity of "jl_i_j";
      // per-term 1e-6-quantized longs, /√16 after the exact sum.
      "embed_rp" ->
        ("WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "e AS (SELECT id, unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM v), " +
          "m AS (SELECT p.range AS pos, o.range AS opos, " +
          "1 - 2 * (CAST(strpos('0123456789abcdef', " +
          "substr(md5('jl_' || p.range || '_' || o.range), 1, 1)) - 1 AS BIGINT) % 2) AS s " +
          "FROM range(0, 64) p, range(0, 16) o) " +
          "SELECT id AS vec_id, opos AS pos, " +
          "floor(sum(s * CAST(floor(x * 1e6 + 0.5) AS BIGINT))::DOUBLE " +
          "/ sqrt(16.0) + 0.5) / 1e6 AS y " +
          "FROM e JOIN m USING (pos) " +
          "GROUP BY id, opos ORDER BY vec_id, pos"),
      // Sign bits packed 32/long (sum of distinct masks ≡ OR); hamming
      // = Σ_w bit_count(xor), ties → lowest neighbor id.
      "embed_binary" ->
        ("WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "e AS (SELECT id, unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM v) " +
          "SELECT id AS vec_id, CAST(floor(pos / 32.0) AS BIGINT) AS w, " +
          "CAST(sum(CASE WHEN x > 0 THEN CAST(pow(2.0, pos % 32) AS BIGINT) ELSE 0 END) " +
          "AS BIGINT) AS word FROM e GROUP BY 1, 2 ORDER BY vec_id, w"),
      "ann_topk_hamming" ->
        ("WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "e AS (SELECT id, unnest(range(0, len(v))) AS pos, unnest(v) AS x FROM v), " +
          "bw AS (SELECT id, CAST(floor(pos / 32.0) AS BIGINT) AS w, " +
          "CAST(sum(CASE WHEN x > 0 THEN CAST(pow(2.0, pos % 32) AS BIGINT) ELSE 0 END) " +
          "AS BIGINT) AS word FROM e GROUP BY 1, 2), " +
          "hd AS (SELECT q.id AS query_id, n.id AS neighbor_id, " +
          "CAST(sum(bit_count(xor(q.word, n.word))) AS BIGINT) AS hamming " +
          "FROM bw q JOIN bw n ON q.w = n.w AND q.id < 5 AND n.id >= 5 " +
          "GROUP BY q.id, n.id) " +
          "SELECT query_id, r AS rnk, neighbor_id, hamming FROM (" +
          "SELECT query_id, neighbor_id, hamming, row_number() OVER (" +
          "PARTITION BY query_id ORDER BY hamming, neighbor_id) AS r FROM hd) " +
          "WHERE r <= 3 ORDER BY query_id, rnk"),
      // TF-IDF: tf · ln(N/df) quantized to 1e-6 longs BEFORE ranking
      // (ties → term asc) — same association as Corpus.tfIdfTopTerms.
      "text_tfidf" ->
        ("WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), " +
          "'\\s+')) AS term FROM documents), " +
          "tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term), " +
          "dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
          "nd AS (SELECT count(*) AS n FROM documents), " +
          "sc AS (SELECT doc_id, term, CAST(floor(CAST(tf AS DOUBLE) * " +
          "(ln(n::DOUBLE) - ln(df::DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS q " +
          "FROM tf JOIN dfq USING (term) CROSS JOIN nd) " +
          "SELECT doc_id, rnk, term, CAST(q AS DOUBLE) / 1e6 AS tfidf FROM (" +
          "SELECT doc_id, term, q, row_number() OVER (PARTITION BY doc_id " +
          "ORDER BY q DESC, term) AS rnk FROM sc) WHERE rnk <= 3 " +
          "ORDER BY doc_id, rnk"),
      // DSIR: hashed unigram+bigram buckets, add-1-smoothed target/raw
      // log-ratio per bucket (1e-6-quantized), summed per doc.
      "corpus_dsir" -> {
        val bigrams = "list_transform(range(1, greatest(len(toks)-1, 1) + 1), " +
          "i -> array_to_string(toks[i:i+1], ' '))"
        val gramsFrom = (src: String, cols: String) =>
          s"SELECT $cols unnest(list_concat(toks, $bigrams)) AS g " +
            s"FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM $src)"
        s"WITH gt AS (${gramsFrom("documents WHERE lang = 'en'", "")}), " +
          s"gr AS (${gramsFrom("documents", "")}), " +
          s"gd AS (${gramsFrom("documents", "doc_id,")}), " +
          s"tc AS (SELECT ${md5IntAt("g", "1")} % 1024 AS b, count(*) AS ct FROM gt GROUP BY 1), " +
          s"rc AS (SELECT ${md5IntAt("g", "1")} % 1024 AS b, count(*) AS cr FROM gr GROUP BY 1), " +
          "tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM tc) AS tt, " +
          "(SELECT CAST(sum(cr) AS BIGINT) FROM rc) AS tr), " +
          "ratio AS (SELECT sp.range AS b, CAST(floor((" +
          "ln(coalesce(ct, 0)::DOUBLE + 1.0) - ln(tt::DOUBLE + 1024) " +
          "- ln(coalesce(cr, 0)::DOUBLE + 1.0) + ln(tr::DOUBLE + 1024)) * 1e6 + 0.5) " +
          "AS BIGINT) AS lq FROM range(0, 1024) sp " +
          "LEFT JOIN tc ON sp.range = tc.b LEFT JOIN rc ON sp.range = rc.b " +
          "CROSS JOIN tot) " +
          s"SELECT doc_id, count(*) AS n_feats, sum(lq)::DOUBLE / 1e6 AS log_weight " +
          s"FROM (SELECT doc_id, ${md5IntAt("g", "1")} % 1024 AS b FROM gd) " +
          "JOIN ratio USING (b) GROUP BY doc_id ORDER BY doc_id"
      },
      // Bloom decontamination: 3 positions per distinct bench 8-gram
      // from disjoint md5 hex slices; the filter is the relation of
      // set-bit positions; a train gram hits iff all 3 position rows
      // match (count = 3, duplicate positions each matching).
      "corpus_bloom" ->
        (s"""WITH $CORPUS_CTE,
          |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM corpus),
          |sh AS (
          |  SELECT doc_id, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-7, 1) + 1),
          |    i -> array_to_string(toks[i:i+7], ' ')))) AS sh
          |  FROM t
          |),
          |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0 AND doc_id < 1000000),
          |train AS (SELECT doc_id, sh FROM sh WHERE NOT (doc_id % 97 = 0 AND doc_id < 1000000)),
          |""".stripMargin +
          s"bp AS (SELECT DISTINCT ${md5IntAt("sh", "j.range * 8 + 1")} % 65536 AS p " +
          "FROM bench CROSS JOIN range(0, 3) j), " +
          s"tp AS (SELECT doc_id, md5(sh) AS h, ${md5IntAt("sh", "j.range * 8 + 1")} % 65536 AS p " +
          "FROM train CROSS JOIN range(0, 3) j), " +
          "hb AS (SELECT tp.doc_id, tp.h, (count(bp.p) = 3) AS hit " +
          "FROM tp LEFT JOIN bp ON tp.p = bp.p " +
          "GROUP BY tp.doc_id, tp.h) " +
          "SELECT doc_id, count(*) AS n_grams, " +
          "CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits, " +
          "sum(CASE WHEN hit THEN 1 ELSE 0 END) > 0 AS flagged " +
          "FROM hb GROUP BY doc_id ORDER BY doc_id"),
      // op 393: the op-93 bit construction over the PLAIN documents
      // table, probed by the same 'nq_'-prefixed synthetic grams.
      "sketch_bloom_fpr" ->
        ("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
          |sh AS (
          |  SELECT DISTINCT md5(unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks)-7, 1) + 1),
          |    i -> array_to_string(toks[i:i+7], ' '))))) AS h
          |  FROM t
          |),
          |""".stripMargin +
          s"bp AS (SELECT DISTINCT ${hexIntAt("h", "j.range * 8 + 1")} % 65536 AS p " +
          "FROM sh CROSS JOIN range(0, 3) j), " +
          "qs AS (SELECT md5('nq_' || md5(CAST(r.range AS VARCHAR))) AS h FROM range(0, 20000) r), " +
          s"qp AS (SELECT h, ${hexIntAt("h", "j.range * 8 + 1")} % 65536 AS p " +
          "FROM qs CROSS JOIN range(0, 3) j), " +
          "hb AS (SELECT qp.h, (count(bp.p) = 3) AS hit " +
          "FROM qp LEFT JOIN bp ON qp.p = bp.p GROUP BY qp.h), " +
          "agg AS (SELECT count(*) AS n_queries, " +
          "CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_false_hits FROM hb), " +
          "ni AS (SELECT count(*) AS n_inserted FROM sh), " +
          "nb AS (SELECT count(*) AS n_set_bits FROM bp) " +
          "SELECT n_inserted, n_set_bits, n_queries, n_false_hits, " +
          "floor(n_false_hits::DOUBLE / n_queries::DOUBLE * 1e6 + 0.5) / 1e6 AS fpr_measured, " +
          "round(pow(1.0 - exp(n_inserted::DOUBLE * (-3.0) / 65536.0), 3), 6) AS fpr_theory " +
          "FROM agg CROSS JOIN ni CROSS JOIN nb"),
      // HLL registers replayed exactly: reg = first md5 word mod 256,
      // rank = 1 + leading zeros of the second word (via bin length);
      // the __ALL__ row max-merges the per-source register tables.
      "sketch_hll" ->
        (s"""WITH tk AS (
          |  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          |  FROM documents
          |),
          |""".stripMargin +
          s"r0 AS (SELECT source, ${md5IntAt("tok", "1")} % 256 AS reg, " +
          s"CASE WHEN ${md5IntAt("tok", "9")} = 0 THEN 33 ELSE 33 - length(bin(${md5IntAt("tok", "9")})) END AS rank FROM tk), " +
          "regs AS (SELECT source, reg, max(rank) AS max_rank FROM r0 GROUP BY source, reg), " +
          "allregs AS (SELECT '__ALL__' AS source, reg, max(max_rank) AS max_rank FROM regs GROUP BY reg), " +
          "u AS (SELECT * FROM regs UNION ALL SELECT * FROM allregs), " +
          "agg AS (SELECT source, count(*) AS n_regs, " +
          "sum(1.0 / CAST(1::BIGINT << max_rank AS DOUBLE)) AS sum_inv FROM u GROUP BY source), " +
          s"est AS (SELECT source, n_regs, floor((CASE WHEN raw <= 640.0 AND v > 0 " +
          "THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE)) ELSE raw END) * 1e6 + 0.5) / 1e6 AS est_distinct " +
          s"FROM (SELECT source, n_regs, 256 - n_regs AS v, " +
          s"${java.lang.Double.toString(Sketch.hllAlphaM2(256))} / (sum_inv + CAST(256 - n_regs AS DOUBLE)) AS raw FROM agg)), " +
          "ex AS (SELECT source, count(DISTINCT tok) AS exact_distinct FROM tk GROUP BY source " +
          "UNION ALL SELECT '__ALL__', count(DISTINCT tok) FROM tk) " +
          "SELECT source, n_regs, est_distinct, exact_distinct " +
          "FROM est JOIN ex USING (source) ORDER BY source"),
      // HLL overlap: same register CTEs; per-pair union registers by
      // max-merge, inclusion-exclusion for the intersect estimate.
      "sketch_hll_overlap" -> {
        // estimate from a (…, n_regs, sum_inv) relation, keyed by $keys
        def est(src: String, keys: String, out: String) =
          s"SELECT $keys, floor((CASE WHEN raw <= 640.0 AND v > 0 " +
            s"THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE)) ELSE raw END) * 1e6 + 0.5) / 1e6 AS $out " +
            s"FROM (SELECT $keys, 256 - n_regs AS v, " +
            s"${java.lang.Double.toString(Sketch.hllAlphaM2(256))} / (sum_inv + CAST(256 - n_regs AS DOUBLE)) AS raw FROM $src)"
        s"""WITH tk AS (
          |  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          |  FROM documents
          |),
          |""".stripMargin +
          s"r0 AS (SELECT source, ${md5IntAt("tok", "1")} % 256 AS reg, " +
          s"CASE WHEN ${md5IntAt("tok", "9")} = 0 THEN 33 ELSE 33 - length(bin(${md5IntAt("tok", "9")})) END AS rank FROM tk), " +
          "regs AS (SELECT source, reg, max(rank) AS max_rank FROM r0 GROUP BY source, reg), " +
          "g AS (SELECT DISTINCT source FROM regs), " +
          "pairs AS (SELECT a.source AS ga, b.source AS gb FROM g a, g b WHERE a.source < b.source), " +
          "contrib AS (SELECT p.ga, p.gb, r.reg, r.max_rank FROM regs r JOIN pairs p ON r.source = p.ga " +
          "UNION ALL SELECT p.ga, p.gb, r.reg, r.max_rank FROM regs r JOIN pairs p ON r.source = p.gb), " +
          "mg AS (SELECT ga, gb, reg, max(max_rank) AS max_rank FROM contrib GROUP BY ga, gb, reg), " +
          "agg1 AS (SELECT source, count(*) AS n_regs, sum(1.0 / CAST(1::BIGINT << max_rank AS DOUBLE)) AS sum_inv FROM regs GROUP BY source), " +
          "aggu AS (SELECT ga, gb, count(*) AS n_regs, sum(1.0 / CAST(1::BIGINT << max_rank AS DOUBLE)) AS sum_inv FROM mg GROUP BY ga, gb), " +
          s"e1 AS (${est("agg1", "source", "est_d")}), " +
          s"eu AS (${est("aggu", "ga, gb", "est_union")}), " +
          "dt AS (SELECT DISTINCT source, tok FROM tk), " +
          "ex AS (SELECT a.source AS ga, b.source AS gb, count(DISTINCT a.tok) AS exact_intersect " +
          "FROM dt a JOIN dt b USING (tok) WHERE a.source < b.source GROUP BY a.source, b.source) " +
          "SELECT eu.ga AS source_a, eu.gb AS source_b, " +
          "ea.est_d AS est_a, eb.est_d AS est_b, eu.est_union, " +
          "ea.est_d + eb.est_d - eu.est_union AS est_intersect, " +
          "COALESCE(ex.exact_intersect, 0) AS exact_intersect " +
          "FROM eu JOIN e1 ea ON ea.source = eu.ga JOIN e1 eb ON eb.source = eu.gb " +
          "LEFT JOIN ex ON ex.ga = eu.ga AND ex.gb = eu.gb " +
          "ORDER BY source_a, source_b"
      },
      // KMV bottom-k replayed exactly: the k smallest distinct md5
      // words per source; one global window here equals the engine's
      // lossless two-level (bucket, then group) cut. __ALL__ =
      // bottom-k of the union of sketches.
      "sketch_kmv" ->
        (s"""WITH tk AS (
          |  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          |  FROM documents
          |),
          |""".stripMargin +
          s"dh AS (SELECT DISTINCT source, ${md5IntAt("tok", "1")} AS h FROM tk), " +
          "sk AS (SELECT source, h FROM (SELECT source, h, row_number() OVER " +
          "(PARTITION BY source ORDER BY h) AS r FROM dh) WHERE r <= 64), " +
          "mg AS (SELECT '__ALL__' AS source, h FROM (SELECT h, row_number() OVER " +
          "(ORDER BY h) AS r FROM (SELECT DISTINCT h FROM sk)) WHERE r <= 64), " +
          "u AS (SELECT * FROM sk UNION ALL SELECT * FROM mg), " +
          "agg AS (SELECT source, count(*) AS n_kept, max(h) AS kth FROM u GROUP BY source), " +
          "est AS (SELECT source, n_kept, CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE) " +
          "ELSE floor(63.0 * 4294967296.0 / CAST(kth AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS est_distinct FROM agg), " +
          "ex AS (SELECT source, count(DISTINCT tok) AS exact_distinct FROM tk GROUP BY source " +
          "UNION ALL SELECT '__ALL__', count(DISTINCT tok) FROM tk) " +
          "SELECT source, n_kept, est_distinct, exact_distinct " +
          "FROM est JOIN ex USING (source) ORDER BY source"),
      // AMS F2: identical md5 first-nibble sign, identical integer
      // sums; exact F2 rides along. CASTs pin BIGINT (DuckDB sums
      // promote to HUGEINT, which serializes differently).
      "sketch_f2" ->
        """WITH counts AS (
          |  SELECT user_id, count(*) AS c FROM events GROUP BY user_id
          |), js AS (SELECT range AS j FROM range(0, 64)),
          |x AS (
          |  SELECT j, CAST(sum(CASE WHEN
          |      (strpos('0123456789abcdef',
          |         substr(md5('ams' || j::VARCHAR || '_' || user_id::VARCHAR), 1, 1)) - 1) % 2 = 0
          |      THEN c ELSE -c END) AS BIGINT) AS x
          |  FROM counts CROSS JOIN js GROUP BY j
          |), e AS (SELECT avg(CAST(x * x AS DOUBLE)) AS ams FROM x),
          |ex AS (
          |  SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2,
          |         count(*) AS n_keys
          |  FROM counts
          |)
          |SELECT n_keys, exact_f2, round(ams, 6) AS ams_f2,
          |  round(abs(ams - exact_f2) / exact_f2, 6) AS rel_err
          |FROM ex, e""".stripMargin,
      // Histogram quantile sketch: identical integer bin counts, the
      // __ALL__ row merged by summing bins, bin-midpoint estimates.
      // q and n are forced to DOUBLE before the rank product so both
      // engines compute the same IEEE floor(q*n).
      "sketch_quantiles" ->
        """WITH h AS (
          |  SELECT event_type,
          |    least(127, greatest(0, CAST(floor(value / 4.0) AS INT))) AS bin,
          |    count(*) AS cnt
          |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
          |m AS (SELECT event_type, bin, cnt FROM h
          |      UNION ALL
          |      SELECT '__ALL__', bin, sum(cnt) FROM h GROUP BY 2),
          |c AS (SELECT event_type, bin, cnt,
          |        sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
          |        sum(cnt) OVER (PARTITION BY event_type) AS n
          |      FROM m),
          |x AS (SELECT c.*, q FROM c
          |      CROSS JOIN (SELECT unnest([0.25, 0.5, 0.75, 0.95]::DOUBLE[]) AS q)),
          |t AS (SELECT event_type, q, CAST(n AS BIGINT) AS n,
          |        min(CASE WHEN cum >= least(n, CAST(floor(q * CAST(n AS DOUBLE)) AS BIGINT) + 1)
          |            THEN bin END) AS qbin
          |      FROM x GROUP BY 1, 2, 3)
          |SELECT event_type, q,
          |  floor((0.0 + (CAST(qbin AS DOUBLE) + 0.5) * 4.0) * 1e6 + 0.5) / 1e6 AS est,
          |  n
          |FROM t ORDER BY event_type, q""".stripMargin,
      // KMV Jaccard: bottom-k of each pair's sketch-hash union with
      // per-side presence flags; estimate = both-present fraction.
      "sketch_kmv_jaccard" ->
        (s"""WITH tk AS (
          |  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          |  FROM documents
          |),
          |""".stripMargin +
          s"dh AS (SELECT DISTINCT source, ${md5IntAt("tok", "1")} AS h FROM tk), " +
          "sk AS (SELECT source, h FROM (SELECT source, h, row_number() OVER " +
          "(PARTITION BY source ORDER BY h) AS r FROM dh) WHERE r <= 64), " +
          "g AS (SELECT DISTINCT source FROM sk), " +
          "pairs AS (SELECT a.source AS ga, b.source AS gb FROM g a, g b WHERE a.source < b.source), " +
          "contrib AS (SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b FROM sk s JOIN pairs p ON s.source = p.ga " +
          "UNION ALL SELECT p.ga, p.gb, s.h, 0, 1 FROM sk s JOIN pairs p ON s.source = p.gb), " +
          "m AS (SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b FROM contrib GROUP BY ga, gb, h), " +
          "bk AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r FROM m) WHERE r <= 64), " +
          "j AS (SELECT ga, gb, count(*) AS n_union_kept, CAST(sum(in_a * in_b) AS BIGINT) AS n_both FROM bk GROUP BY ga, gb), " +
          "dt AS (SELECT DISTINCT source, tok FROM tk), " +
          "sz AS (SELECT source, count(*) AS d FROM dt GROUP BY source), " +
          "iv AS (SELECT a.source AS ga, b.source AS gb, count(*) AS n_inter " +
          "FROM dt a JOIN dt b USING (tok) WHERE a.source < b.source GROUP BY a.source, b.source) " +
          "SELECT j.ga AS source_a, j.gb AS source_b, n_union_kept, n_both, " +
          "floor(CAST(n_both AS DOUBLE) / CAST(n_union_kept AS DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard_est, " +
          "round(CAST(COALESCE(iv.n_inter, 0) AS DOUBLE) / (sa.d + sb.d - COALESCE(iv.n_inter, 0)), 6) + 0.0 AS jaccard_exact " +
          "FROM j LEFT JOIN iv ON iv.ga = j.ga AND iv.gb = j.gb " +
          "JOIN sz sa ON sa.source = j.ga JOIN sz sb ON sb.source = j.gb " +
          "ORDER BY source_a, source_b"),
      // Count-Min probe: counter = count at (j, h_j(tok)), estimate =
      // min over the 4 hash rows, global top-20 (est desc, token).
      "sketch_cms_topk" ->
        ("WITH tk AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents), " +
          "ex AS (SELECT tok, count(*) AS exact_cnt FROM tk GROUP BY tok), " +
          s"cnts AS (SELECT j.range AS j, ${md5IntAt("(j.range || ':' || tok)", "1")} % 1024 AS pos, " +
          "count(*) AS cnt FROM tk CROSS JOIN range(0, 4) j GROUP BY 1, 2), " +
          s"pr AS (SELECT tok, exact_cnt, j.range AS j, ${md5IntAt("(j.range || ':' || tok)", "1")} % 1024 AS pos " +
          "FROM ex CROSS JOIN range(0, 4) j), " +
          "est AS (SELECT tok, exact_cnt, min(cnt) AS est_cnt FROM pr JOIN cnts USING (j, pos) GROUP BY tok, exact_cnt) " +
          "SELECT tok AS token, est_cnt, exact_cnt FROM est ORDER BY est_cnt DESC, token LIMIT 20"),
      // Streaming space-saving top-k: while every hash bucket has
      // spare capacity the maintained counts are EXACT (err = 0), so
      // the oracle is the plain exact top-20 token count — the same
      // exactness argument the CMS/KMV streaming twins replay.
      "streaming_topk" ->
        ("WITH tk AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents) " +
          "SELECT tok AS token, count(*) AS cnt, CAST(0 AS BIGINT) AS err " +
          "FROM tk GROUP BY tok ORDER BY cnt DESC, token LIMIT 20"),
      // Efraimidis-Spirakis keys replayed: ln((H + 0.5) / 2^32) / w,
      // quantized to 1e-6 longs, top-20 per lang (key desc, id).
      "corpus_sample_weighted" ->
        (s"WITH w AS (SELECT doc_id, lang, n_chars, " +
          s"CAST(floor(ln((${md5IntAt("doc_id::VARCHAR", "1")} + 0.5) / 4294967296.0) " +
          "/ CAST(n_chars AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS sample_key " +
          "FROM documents WHERE n_chars > 0), " +
          "r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY sample_key DESC, doc_id) AS rn FROM w) " +
          "SELECT doc_id, lang, n_chars, sample_key FROM r WHERE rn <= 20 ORDER BY lang, doc_id"),
      // C4 line filters: construction (10-token lines, modular bullet/
      // lorem/brace/punct decorations) and the line filter replayed
      // list-for-list; kept_digest gates the exact kept-line set.
      "corpus_c4_filters" ->
        ("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
          |l AS (SELECT doc_id, list_transform(range(0, greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1)), i ->
          |  (CASE WHEN (doc_id + i) % 7 = 0 THEN '- ' ELSE '' END) ||
          |  array_to_string(toks[i*10+1 : i*10+10], ' ') ||
          |  (CASE WHEN (doc_id + i) % 41 = 0 THEN ' and lorem ipsum filler text here' ELSE '' END) ||
          |  (CASE WHEN (doc_id + i) % 43 = 0 THEN ' {' ELSE '' END) ||
          |  (CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END)) AS lines FROM t),
          |m AS (SELECT doc_id, lines,
          |  list_filter(lines, x -> right(rtrim(x), 1) IN ('.', '!', '?', '"') AND
          |    (CASE WHEN length(trim(x)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(x), '\s+')) END) >= 5) AS kept,
          |  array_to_string(lines, chr(10)) AS text2 FROM l)
          |SELECT doc_id,
          |  CAST(len(lines) AS BIGINT) AS n_lines,
          |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
          |  CAST(COALESCE(list_aggregate(list_transform(kept, x ->
          |    CASE WHEN length(trim(x)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(x), '\s+')) END), 'sum'), 0) AS BIGINT) AS n_words_kept,
          |  contains(lower(text2), 'lorem ipsum') AS has_lorem,
          |  contains(text2, '{') AS has_brace,
          |  md5(COALESCE(array_to_string(kept, chr(10)), '')) AS kept_digest,
          |  (len(kept) >= 3 AND NOT contains(lower(text2), 'lorem ipsum')
          |    AND NOT contains(text2, '{')) AS keep_doc
          |FROM m ORDER BY doc_id""".stripMargin),
      // op 217: the op-81 component table joined to corpus text
      // lengths, the same (len DESC, id) keep-one window.
      "dedup_canonical" ->
        s"""WITH RECURSIVE pairs AS (
          |  $minhashPairsSql
          |), edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM pairs
          |  UNION SELECT id_b, id_a FROM pairs
          |), reach AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE e.dst != r.src
          |), comp AS (
          |  SELECT src AS id, least(src, min(dst)) AS cluster_id
          |  FROM reach GROUP BY src
          |), $CORPUS_CTE,
          |lens AS (SELECT doc_id AS id, length(text) AS len FROM corpus),
          |j AS (
          |  SELECT comp.cluster_id, comp.id, lens.len,
          |    row_number() OVER (PARTITION BY comp.cluster_id
          |                       ORDER BY lens.len DESC, comp.id) AS rn,
          |    count(*) OVER (PARTITION BY comp.cluster_id) AS cs
          |  FROM comp JOIN lens ON comp.id = lens.id
          |)
          |SELECT cluster_id, id AS canonical_id,
          |  CAST(len AS BIGINT) AS canonical_len,
          |  cs AS cluster_size, cs - 1 AS n_removed
          |FROM j WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
      // op 390: the op-150 edge CTE self-joined on reversed pairs —
      // each mutual ORDERED pair counts once, matching the Spark
      // intersect of the edge list with its swap.
      "ann_mutual_knn" ->
        s"""WITH $KNN_EDGE_CTES, m AS (
          |  SELECT a.src, a.dst FROM g a
          |  JOIN g b ON b.src = a.dst AND b.dst = a.src
          |)
          |SELECT (SELECT count(*) FROM g) AS n_edges,
          |  (SELECT count(*) FROM m) AS n_mutual,
          |  floor((SELECT count(*) FROM m)::DOUBLE /
          |        (SELECT count(*) FROM g)::DOUBLE * 1e6 + 0.5) / 1e6
          |    AS mutual_frac""".stripMargin,
      // op 218: the op-150 graph re-aggregated to in-degrees, with a
      // left join keeping in-degree-0 nodes.
      "ann_hubness" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |t0 AS (
          |  SELECT vec_id, v, 0 AS tbl, ${lshBucketSqlAt("v", 0, 4)} AS bucket FROM e
          |  UNION ALL
          |  SELECT vec_id, v, 4 AS tbl, ${lshBucketSqlAt("v", 4, 4)} AS bucket FROM e
          |), t AS (
          |  SELECT * FROM (
          |    SELECT *, count(*) OVER (PARTITION BY tbl, bucket) AS bc FROM t0
          |  ) WHERE bc <= 10000
          |), p AS (
          |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          |    max(list_dot_product(a.v, b.v) /
          |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) AS cosine
          |  FROM t a JOIN t b ON a.tbl = b.tbl AND a.bucket = b.bucket
          |  WHERE b.vec_id <> a.vec_id
          |  GROUP BY 1, 2
          |), r AS (
          |  SELECT query_id, neighbor_id,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
          |  FROM p
          |), deg AS (
          |  SELECT e.vec_id, COALESCE(d.d, 0) AS in_deg
          |  FROM e LEFT JOIN (
          |    SELECT neighbor_id, count(*) AS d FROM r WHERE rnk <= 3 GROUP BY 1
          |  ) d ON e.vec_id = d.neighbor_id
          |)
          |SELECT in_deg, count(*) AS n_nodes
          |FROM deg GROUP BY in_deg ORDER BY in_deg""".stripMargin,
      // op 223: the op-53 scorer with the declared label carried
      // through, re-aggregated to confusion cells.
      "corpus_lang_confusion" ->
        s"""WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
          |sc AS (SELECT doc_id, lang, $langScores FROM t),
          |p AS (SELECT lang, CASE $langCase ELSE 'unknown' END AS lang_pred FROM sc)
          |SELECT lang, lang_pred, count(*) AS n
          |FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,
      // op 219: the text_token_count kernels summed per declared
      // language — all-integer sums, exact ratios.
      "text_fertility" ->
        s"""WITH t AS (
          |  SELECT lang,
          |    len(regexp_split_to_array(trim(text), '\\s+')) AS ws,
          |    len(regexp_extract_all(text, '${Text.BpePattern}')) AS bpe,
          |    length(text) AS nc
          |  FROM documents
          |)
          |SELECT lang, count(*) AS n_docs,
          |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
          |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
          |  round(CAST(sum(bpe) AS DOUBLE) / sum(ws), 6) AS tokens_per_word,
          |  round(CAST(sum(bpe) AS DOUBLE) * 100.0 / sum(nc), 6) AS tokens_per_100chars
          |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
      // op 220: same 1e-6 component quantization, same exact
      // integer-ratio centroids, same 1e-12-quantized per-dim terms.
      "embed_centroid_outliers" ->
        """WITH e AS (
          |  SELECT vec_id, label,
          |    unnest(range(0, len(embedding))) AS pos,
          |    unnest(list_transform(embedding::DOUBLE[],
          |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS xq
          |  FROM embeddings
          |), cen AS (
          |  SELECT label, pos, count(*) AS n, sum(xq) AS sq FROM e GROUP BY 1, 2
          |), d AS (
          |  SELECT e.label, e.vec_id,
          |    CAST(floor(
          |      (CAST(e.xq AS DOUBLE) / 1e6 - (CAST(c.sq AS DOUBLE) / CAST(c.n AS DOUBLE)) / 1e6)
          |      * (CAST(e.xq AS DOUBLE) / 1e6 - (CAST(c.sq AS DOUBLE) / CAST(c.n AS DOUBLE)) / 1e6)
          |      * 1e12 + 0.5) AS BIGINT) AS t
          |  FROM e JOIN cen c ON e.label = c.label AND e.pos = c.pos
          |), s AS (
          |  SELECT label, vec_id, sum(t) AS s2 FROM d GROUP BY 1, 2
          |), rk AS (
          |  SELECT label, vec_id, s2,
          |    row_number() OVER (PARTITION BY label ORDER BY s2 DESC, vec_id) AS rnk
          |  FROM s
          |)
          |SELECT label, rnk, vec_id, round(sqrt(CAST(s2 AS DOUBLE) / 1e12), 6) AS dist
          |FROM rk WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin,
      // op 227: the op-220 distance kernel against ALL centroids,
      // argmin on integer s2, the same (b−a)/max quantization.
      "embed_silhouette" ->
        """WITH e AS (
          |  SELECT vec_id, label,
          |    unnest(range(0, len(embedding))) AS pos,
          |    unnest(list_transform(embedding::DOUBLE[],
          |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS xq
          |  FROM embeddings
          |), cen AS (
          |  SELECT label AS clabel, pos,
          |    CAST(sum(xq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
          |  FROM e GROUP BY label, pos
          |), terms AS (
          |  SELECT e.vec_id, e.label, c.clabel,
          |    sum(CAST(floor((CAST(e.xq AS DOUBLE) / 1e6 - c.m / 1e6)
          |      * (CAST(e.xq AS DOUBLE) / 1e6 - c.m / 1e6) * 1e12 + 0.5) AS BIGINT)) AS s2
          |  FROM e JOIN cen c ON e.pos = c.pos
          |  GROUP BY 1, 2, 3
          |), own AS (
          |  SELECT vec_id, label, sqrt(CAST(s2 AS DOUBLE) / 1e12) AS a
          |  FROM terms WHERE label = clabel
          |), oth AS (
          |  SELECT vec_id, label, sqrt(CAST(min(s2) AS DOUBLE) / 1e12) AS b
          |  FROM terms WHERE label <> clabel GROUP BY 1, 2
          |), sil AS (
          |  SELECT o.label,
          |    CAST(floor((t.b - o.a) / greatest(o.a, t.b) * 1e6 + 0.5) AS BIGINT) AS qs
          |  FROM own o JOIN oth t USING (vec_id, label)
          |  WHERE greatest(o.a, t.b) > 0
          |)
          |SELECT label, count(*) AS n_vecs,
          |  floor(CAST(sum(qs) AS DOUBLE) / count(*) + 0.5) / 1e6 AS mean_silhouette,
          |  CAST(sum(CASE WHEN qs < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misplaced
          |FROM sil GROUP BY label ORDER BY label""".stripMargin,
      // op 230: same 1e-6 component quantization, per-dim population
      // variance, λ re-quantized to 1e-12 with λ² through
      // DECIMAL(19,0)².
      // op 280: same 1e-6 norm quantization, exact sums, same
      // population-variance algebra and guards.
      "embed_norm_stats" ->
        """WITH e AS (
          |  SELECT label,
          |    CAST(floor(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
          |      * 1e6 + 0.5) AS BIGINT) AS qn
          |  FROM embeddings
          |), a AS (
          |  SELECT label, count(*) AS n, CAST(sum(qn) AS BIGINT) AS sq,
          |    min(qn) AS mn, max(qn) AS mx,
          |    sum(CAST(qn AS DECIMAL(19,0)) * CAST(qn AS DECIMAL(19,0))) AS sq2
          |  FROM e GROUP BY label
          |), m AS (
          |  SELECT label, n, CAST(sq AS DOUBLE) / 1e6 / n AS mean,
          |    CAST(sq2 AS DOUBLE) / 1e12 / n
          |      - (CAST(sq AS DOUBLE) / 1e6 / n) * (CAST(sq AS DOUBLE) / 1e6 / n) AS v,
          |    mn, mx
          |  FROM a
          |)
          |SELECT label, n, round(mean, 6) AS mean_norm,
          |  round(CASE WHEN v >= 0 THEN sqrt(v) END, 6) + 0.0 AS std_norm,
          |  CAST(mn AS DOUBLE) / 1e6 AS min_norm,
          |  CAST(mx AS DOUBLE) / 1e6 AS max_norm
          |FROM m ORDER BY label""".stripMargin,
      // op 381: identical quantized normalized components; the
      // ‖Σv̂‖² − Σ‖v̂‖² identity on DECIMAL-exact sums.
      "embed_isotropy" ->
        s"""WITH e AS (
          |  SELECT vec_id, embedding::DOUBLE[] AS v,
          |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
          |  FROM embeddings
          |), ok AS (SELECT * FROM e WHERE nm > 0),
          |comps AS (
          |  SELECT r.range AS pos,
          |    CAST(floor(v[CAST(r.range AS INT) + 1] / nm * 1e6 + 0.5)
          |      AS BIGINT) AS qc
          |  FROM ok CROSS JOIN range(0, $EmbDim) r
          |), bypos AS (
          |  SELECT pos, CAST(sum(qc) AS BIGINT) AS sq,
          |    sum(CAST(qc AS DECIMAL(38,0)) * CAST(qc AS DECIMAL(38,0))) AS sq2
          |  FROM comps GROUP BY pos
          |), tot AS (
          |  SELECT count(*) AS dim,
          |    sum(CAST(sq AS DECIMAL(38,0)) * CAST(sq AS DECIMAL(38,0))) AS s2,
          |    CAST(sum(sq2) AS DECIMAL(38,0)) AS selfsq
          |  FROM bypos
          |), n0 AS (SELECT count(*) AS n FROM ok)
          |SELECT n, dim,
          |  round((CAST(s2 AS DOUBLE) - CAST(selfsq AS DOUBLE)) / 1e12
          |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6)
          |    AS mean_pairwise_cosine,
          |  round(sqrt(CAST(s2 AS DOUBLE)) / 1e6 / CAST(n AS DOUBLE), 6)
          |    AS mean_vector_norm
          |FROM tot CROSS JOIN n0""".stripMargin,
      // op 277: same adjacent-id pairing, identical cosine
      // parenthesization, same 1e-6 quantization and 0.1 bins.
      "embed_pair_sim" ->
        """WITH e AS (
          |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
          |), p AS (
          |  SELECT CAST(floor(list_dot_product(a.v, b.v) /
          |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          |      * 1e6 + 0.5) AS BIGINT) AS q
          |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
          |)
          |SELECT CAST(floor(CAST(q AS DOUBLE) / 1e5) AS BIGINT) AS bin,
          |  count(*) AS n_pairs,
          |  round(CAST(sum(q) AS DOUBLE) / 1e6 / count(*), 6) AS avg_cos
          |FROM p GROUP BY bin ORDER BY bin""".stripMargin,
      "embed_dim_variance" ->
        """WITH e AS (
          |  SELECT unnest(range(0, len(embedding))) AS pos,
          |    unnest(list_transform(embedding::DOUBLE[],
          |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS xq
          |  FROM embeddings
          |), lam AS (
          |  SELECT pos, count(*) AS n, sum(xq) AS sq,
          |    sum(CAST(xq AS DECIMAL(19,0)) * CAST(xq AS DECIMAL(19,0))) AS sq2
          |  FROM e GROUP BY pos
          |), lq AS (
          |  SELECT pos,
          |    CAST(floor((CAST(sq2 AS DOUBLE) / 1e12 / n -
          |      (CAST(sq AS DOUBLE) / 1e6 / n) * (CAST(sq AS DOUBLE) / 1e6 / n))
          |      * 1e12 + 0.5) AS BIGINT) AS lq
          |  FROM lam
          |), a AS (
          |  SELECT count(*) AS n_dims,
          |    CAST(sum(lq) AS DOUBLE) / 1e12 AS tv,
          |    CAST(max(lq) AS DOUBLE) / 1e12 AS mv,
          |    CAST(sum(CAST(lq AS DECIMAL(19,0)) * CAST(lq AS DECIMAL(19,0))) AS DOUBLE) / 1e24 AS s2
          |  FROM lq
          |)
          |SELECT n_dims, round(tv, 6) AS total_var, round(mv, 6) AS max_var,
          |  round(tv * tv / s2, 6) AS effective_dim
          |FROM a""".stripMargin,
      // op 238: the same frequency-preserving width-2 shingles, the
      // same 1e-9-quantized c·ln(c/ca) terms.
      "corpus_bigram_entropy" ->
        """WITH t AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
          |bg0 AS (
          |  SELECT source, unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
          |    i -> array_to_string(toks[i:i+1], ' '))) AS bg
          |  FROM t
          |), bgc AS (
          |  SELECT source, bg, count(*) AS cnt FROM bg0 GROUP BY 1, 2
          |), wone AS (
          |  SELECT source, bg, cnt, split_part(bg, ' ', 1) AS w1 FROM bgc
          |), ca AS (
          |  SELECT source, w1, CAST(sum(cnt) AS BIGINT) AS ca FROM wone GROUP BY 1, 2
          |), qq AS (
          |  SELECT a.source, a.cnt,
          |    CAST(floor(CAST(a.cnt AS DOUBLE) *
          |      ln(CAST(a.cnt AS DOUBLE) / CAST(c.ca AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS q
          |  FROM wone a JOIN ca c ON a.source = c.source AND a.w1 = c.w1
          |)
          |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
          |  round((-(CAST(sum(q) AS DOUBLE) / 1e9)) / CAST(sum(cnt) AS DOUBLE), 6) AS h_cond,
          |  round(exp((-(CAST(sum(q) AS DOUBLE) / 1e9)) / CAST(sum(cnt) AS DOUBLE)), 6) AS perplexity
          |FROM qq GROUP BY source ORDER BY source""".stripMargin,
      // op 221: the WordShingles width-5 truncation convention
      // (toks[i:i+4] over max(len−4, 1) starts), counts all integer.
      "corpus_boilerplate" ->
        """WITH t AS (
          |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
          |  FROM documents
          |), shx AS (
          |  SELECT doc_id, source, unnest(list_distinct(list_transform(
          |    range(1, greatest(len(toks) - 4, 1) + 1),
          |    i -> array_to_string(toks[i:i+4], ' ')))) AS sh
          |  FROM t
          |), b AS (
          |  SELECT sh FROM (
          |    SELECT sh, count(DISTINCT doc_id) AS nd FROM shx GROUP BY sh
          |  ) WHERE nd >= 5
          |), per AS (
          |  SELECT s.doc_id, any_value(s.source) AS source, count(*) AS n_shingles,
          |    count(b.sh) AS n_boiler
          |  FROM shx s LEFT JOIN b ON s.sh = b.sh
          |  GROUP BY s.doc_id
          |)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(n_shingles) AS BIGINT) AS n_shingles,
          |  CAST(sum(n_boiler) AS BIGINT) AS n_boiler,
          |  round(CAST(sum(n_boiler) AS DOUBLE) / sum(n_shingles), 6) AS boiler_frac
          |FROM per GROUP BY source ORDER BY source""".stripMargin
    )
  }

  /** Shared CTE prefix for the SemDeDup oracles: planted embedding
    * corpus, the kmeans chain (…akm, c2 in scope), size-gated cells,
    * norm-annotated members. Plain concatenation — no stripMargin.
    */
  private def SEM_CTES: String =
    s"$ECORPUS_CTE, " +
      kmeansCtes("SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM ecorpus", 8, 2) + ", " +
      "sz AS (SELECT cid FROM akm GROUP BY cid HAVING count(*) > 1 AND count(*) <= 10000), " +
      "nn AS (SELECT id, cid, v, sqrt(list_dot_product(v, v)) AS nm FROM akm JOIN sz USING (cid))"

  /** Within-cluster ≥τ pair select over SEM_CTES' `nn`. */
  private val SEM_PAIRS_SELECT: String =
    "SELECT a.id AS id_a, b.id AS id_b, " +
      "round(list_dot_product(a.v, b.v) / (a.nm * b.nm), 6) AS cosine " +
      "FROM nn a JOIN nn b ON a.cid = b.cid AND a.id < b.id " +
      "WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= 0.99"

  /** CTE chain replaying Pq.encode(iters = n) — grouped Lloyd over
    * all m=8 subspaces at once (op 95): v, sv, c0, (a1, c1), …, enc.
    * Same conventions as kmeansCtes with `sub` in every partition and
    * group key. Plain concatenation — no stripMargin.
    */
  private def pqTrainedCtes(k: Int, iters: Int): String = {
    def assign(a: String, c: String, out: String) =
      s"$a AS (SELECT $out FROM (" +
        s"SELECT sv.id, sv.sub, c.cid, sv.sv, row_number() OVER (PARTITION BY sv.id, sv.sub " +
        "ORDER BY list_dot_product(c.cv, c.cv) - 2 * list_dot_product(sv.sv, c.cv), " +
        s"c.cid) AS r FROM sv JOIN $c c ON sv.sub = c.sub) WHERE r = 1)"
    def update(a: String, c: String) =
      s"$c AS (SELECT sub, cid, list(comp ORDER BY pos) AS cv FROM (" +
        "SELECT sub, cid, pos, CAST(sum(qv) AS DOUBLE) / count(*) / 1e6 AS comp FROM (" +
        "SELECT sub, cid, unnest(range(1, len(sv) + 1)) AS pos, " +
        "unnest(list_transform(sv, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS qv " +
        s"FROM $a) GROUP BY sub, cid, pos) GROUP BY sub, cid)"
    val mid = (1 to iters)
      .map(t => assign(s"a$t", s"c${t - 1}", "id, sub, cid, sv") + ", " +
        update(s"a$t", s"c$t"))
      .mkString(", ")
    "v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5), " +
      "sv AS (SELECT id, s.range AS sub, list_slice(v, s.range*8 + 1, s.range*8 + 8) AS sv " +
      "FROM v, range(0, 8) s), " +
      s"c0 AS (SELECT s.range AS sub, seed.id AS cid, " +
      "list_slice(seed.v, s.range*8 + 1, s.range*8 + 8) AS cv " +
      s"FROM (SELECT id, v FROM v ORDER BY id LIMIT $k) seed, range(0, 8) s), " +
      mid + ", " +
      assign("enc", s"c$iters", "id, sub, cid AS code")
  }

  /** CTE chain replaying Pq.encode over the ANN corpus (vec_id >= 5,
    * k=16 codes, m=8 subspaces of 8 dims): v, seed, cb, enc — same
    * seed rule (k lowest ids), same argmin (|c_s|² − 2·x_s·c_s, ties
    * → lowest cid). Plain concatenation — no stripMargin.
    */
  private val PQ_CTES: String =
    "v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5), " +
      "seed AS (SELECT id, v FROM v ORDER BY id LIMIT 16), " +
      "cb AS (SELECT s.range AS sub, seed.id AS cid, " +
      "list_slice(seed.v, s.range*8 + 1, s.range*8 + 8) AS cv FROM seed, range(0, 8) s), " +
      "enc AS (SELECT id, sub, cid AS code FROM (" +
      "SELECT e.id, cb.sub, cb.cid, row_number() OVER (PARTITION BY e.id, cb.sub " +
      "ORDER BY list_dot_product(cb.cv, cb.cv) " +
      "- 2 * list_dot_product(list_slice(e.v, cb.sub*8 + 1, cb.sub*8 + 8), cb.cv), " +
      "cb.cid) AS r FROM v e CROSS JOIN cb) WHERE r = 1)"

  /** CTE chain replaying Cluster.kmeans(k, iters) over `vSrc` (a
    * SELECT yielding (id, v DOUBLE[])): v, c0, a1, c1, …, ending with
    * the final assignment CTE `akm` (id, cid, v). Same seeds (k lowest
    * ids), same argmin score (|c|² − 2·x·c, ties → lowest cid), same
    * 1e-6-quantized-long centroid means. Built by plain concatenation
    * — no stripMargin on interpolated SQL.
    */
  private def kmeansCtes(vSrc: String, k: Int, iters: Int): String = {
    def assign(a: String, c: String) =
      s"$a AS (SELECT id, cid, v FROM (" +
        s"SELECT v.id, $c.cid, v.v, row_number() OVER (PARTITION BY v.id " +
        s"ORDER BY list_dot_product($c.cv, $c.cv) - 2 * list_dot_product(v.v, $c.cv), " +
        s"$c.cid) AS r FROM v CROSS JOIN $c) WHERE r = 1)"
    def update(a: String, c: String) =
      s"$c AS (SELECT cid, list(comp ORDER BY pos) AS cv FROM (" +
        "SELECT cid, pos, CAST(sum(qv) AS DOUBLE) / count(*) / 1e6 AS comp FROM (" +
        "SELECT cid, unnest(range(1, len(v) + 1)) AS pos, " +
        "unnest(list_transform(v, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS qv " +
        s"FROM $a) GROUP BY cid, pos) GROUP BY cid)"
    val mid = (1 to iters)
      .map(t => assign(s"a$t", s"c${t - 1}") + ", " + update(s"a$t", s"c$t"))
      .mkString(", ")
    s"v AS ($vSrc), c0 AS (SELECT id AS cid, v AS cv FROM v ORDER BY id LIMIT $k), " +
      mid + ", " + assign("akm", s"c$iters")
  }
}
