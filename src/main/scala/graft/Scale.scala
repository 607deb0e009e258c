package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.let
import graft.operators.Similarity
import graft.sources.Tables

/** Scale probe: the testdata stops at sf0.1, so this main
  * writes the ten testdata tables itself at multiples of the sf0.1 row
  * counts ([[writeTables]], md5-derived and deterministic like
  * MarketSim) and times registry queries on them. The point is
  * evidence, not a record: ~linear wall-time in rows, no OOM,
  * caps/AQE engaging — the measurements behind "this formulation
  * survives 100 TB". The same directory also runs the unchanged Verify
  * and `tools/check_oracle.py`, so every timed query can be
  * oracle-checked at the scale it was timed at.
  *
  * Per factor m, `main` writes the directory once (the `gen` line),
  * sets `graft.ann.planes` from [[Similarity.planesForN]] of the
  * embedding count, times every query of [[Queries]] through
  * `SparkEntry.queries(q)(spark, dir)` into the noop sink, and then
  * runs the few direct probes that measure what no registry query can
  * (each tagged `// why:`).
  *
  * Emits one JSON line per measurement:
  *   {"op":...,"scale":m,"rows":n,"sec":t}
  * Run: SPARK_GRAFT_SCALES=1,10,50 sbt "runMain graft.Scale"
  * (`SPARK_GRAFT_ONLY=q1,q2` runs only those ops; generation always
  * runs. `SPARK_GRAFT_CPUS` sets `local[n]`, default 32.)
  */
object Scale {
  private def u(id: Column, tag: String): Column =
    conv(substring(md5(concat_ws("_", lit("sc"), id, lit(tag))), 1, 8), 16, 10)
      .cast("double") / 4294967296.0

  /** A deterministic key in 0 until n, drawn from md5(tag_id). */
  private def hashMod(id: Column, tag: String, n: Long): Column =
    conv(substring(md5(concat_ws("_", lit(tag), id)), 1, 8), 16, 10)
      .cast("long") % n

  /** A deterministic uniform pick from `xs`. */
  private def pick(id: Column, tag: String, xs: Seq[String]): Column =
    element_at(typedLit(xs), (floor(u(id, tag) * xs.size) + 1).cast("int"))

  /** A deterministic value in [lo, hi], rounded to cents. */
  private def cents(id: Column, tag: String, lo: Double, hi: Double): Column =
    round(lit(lo) + u(id, tag) * (hi - lo), 2)

  /** Midnight `days` after 1995-01-01, as TIMESTAMP_NTZ. */
  private def day(days: Column): Column =
    timestamp_seconds(lit(788918400L) + days * 86400L).cast("timestamp_ntz")

  /** Row counts of the sf0.1 testdata tables, in [[Tables.All]] order. */
  val Sf01Rows: ListMap[String, Long] = ListMap("region" -> 5L,
    "nation" -> 25L, "customer" -> 15000L, "supplier" -> 1000L,
    "part" -> 20000L, "orders" -> 150000L, "lineitem" -> 600000L,
    "events" -> 100000L, "documents" -> 5000L, "embeddings" -> 2000L)

  /** Rows [[writeTables]] writes for `table` at `factor`: sf0.1's count
    * × factor, except the fixed region (5) and nation (25).
    */
  def rowCount(table: String, factor: Double): Long =
    if (table == "region" || table == "nation") Sf01Rows(table)
    else math.max(1L, math.round(Sf01Rows(table) * factor))

  /** Writes the ten testdata tables to `dir` at `factor` × sf0.1's row
    * counts ([[rowCount]]). Column names, order and types equal
    * the sf0.1 testdata's under DuckDB `DESCRIBE`: INTEGER region,
    * nation and `*_nationkey` keys, `l_linenumber`, `p_size` and
    * `label`; TIMESTAMP (`timestamp_ntz`) times; a FLOAT[] embedding.
    *
    * sf0.1 properties the registry queries read, kept at every factor:
    *   - events: the five event types (interleaved by id, so every rn
    *     cross-section is complete), `props` as `{"k": n}` with n in
    *     0..99 (events_lift_by_segment's quartiles), 1,500 users per
    *     100k events, a 30-day span with ts increasing in event_id, and
    *     cent-valued positive prices;
    *   - documents: `source` src0..src19, `lang` en plus four others,
    *     `n_chars` = length(text); the text is [[genDocs]]'s corpus with
    *     its planted duplicates;
    *   - embeddings: 64-dim unit vectors with [[genEmbeddings]]'s planted
    *     near-duplicates, and `label` in 0..9;
    *   - TPC-H: the five region names (ASIA, EUROPE), NATION_i names with
    *     n_regionkey = i % 5, sf0.1's p_type and first-word-of-p_name
    *     vocabularies (PROMO, "blue …"), o_orderstatus F/O/P, and
    *     modulo-consistent keys so every join finds its match.
    */
  def writeTables(spark: SparkSession, dir: String, factor: Double): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    genTpch(spark, factor).foreach { case (name, df) => write(name, df) }
    write("events", genEvents(spark, rowCount("events", factor))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .withColumn("props", concat(lit("{\"k\": "),
        floor(u(col("event_id"), "pr") * 100).cast("long"), lit("}"))))
    write("documents", genDocs(spark, rowCount("documents", factor))
      .withColumn("lang", pick(col("doc_id"), "lang",
        Seq("en", "en", "en", "de", "es", "fr", "zh")))
      .withColumn("source", concat(lit("src"), col("doc_id") % 20))
      .withColumn("n_chars", length(col("text")).cast("long")))
    write("embeddings", genEmbeddings(spark, rowCount("embeddings", factor), 64)
      .withColumn("label", floor(u(col("vec_id"), "lb") * 10).cast("int")))
  }

  /** Synthetic corpus with a known dup structure: every 10th doc is a
    * one-token mutation of its predecessor (near-dup), every 25th an
    * exact copy — so dedup operators do real pair work at every scale.
    */
  def genDocs(spark: SparkSession, n: Long): DataFrame = {
    val isExact = col("id") % 25 === 24
    val isNear = (col("id") % 10 === 9) && !isExact
    val parent = when(isExact || isNear, col("id") - 1).otherwise(col("id"))
    val toks = transform(sequence(lit(0), lit(49)), j =>
      concat(lit("tok"),
        conv(substring(md5(concat_ws("_", parent, j)), 1, 6), 16, 10)
          .cast("long") % 5000))
    val mutated = when(isNear,
        transform(toks, (t, j) =>
          when(j === 7, concat(lit("mut"), col("id"))).otherwise(t)))
      .otherwise(toks)
    spark.range(n)
      .select(col("id").as("doc_id"), concat_ws(" ", mutated).as("text"))
  }

  /** Unit-length FLOAT embeddings, same 1-in-10 near-dup structure
    * (parent vector plus 1% noise → cosine ≈ 0.99998, inside every LSH
    * table's reach).
    */
  def genEmbeddings(spark: SparkSession, n: Long, dim: Int): DataFrame = {
    val isNear = col("id") % 10 === 9
    val parent = when(isNear, col("id") - 1).otherwise(col("id"))
    val vec = transform(sequence(lit(0), lit(dim - 1)), d =>
      (u(concat_ws("#", parent, d), "v") * 2 - 1) +
        when(isNear, (u(concat_ws("#", col("id"), d), "nz") - 0.5) * 0.02)
          .otherwise(0.0))
    val unit = let(vec)(v =>
      let(sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x)))(norm =>
        transform(v, x => x / norm)))
    spark.range(n).select(col("id").as("vec_id"),
      unit.cast("array<float>").as("embedding"))
  }

  /** Skewed fact: ~90% of rows on one hot key — the rel_join_agg risk
    * shape whose 100×-scale story is AQE skew-join.
    */
  def genSkewFact(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      when(u(col("id"), "k") < 0.9, lit("hot"))
        .otherwise(concat(lit("k"), (u(col("id"), "k2") * 1000).cast("long")))
        .as("key"),
      (col("id") % 1000).cast("double").as("v"))

  /** Synthetic events table in the testdata shape (event_id, ts,
    * user_id, event_type, value): 5 interleaved event types, ts evenly
    * spaced over 30 days (sf0.1's span) and increasing in event_id,
    * 1,500 users per 100k events (more users, not longer per-user
    * histories — the realistic 100 TB shape), positive cent prices.
    */
  def genEvents(spark: SparkSession, n: Long): DataFrame = {
    val types = array(lit("click"), lit("view"), lit("purchase"),
      lit("signup"), lit("error"))
    val nUsers = math.max(n * 3 / 200, 1L)
    val stepUs = 30L * 86400L * 1000000L / n.toDouble
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (col("id") * stepUs).cast("long")).as("ts"),
      hashMod(col("id"), "eu", nUsers).as("user_id"),
      element_at(types, (col("id") % 5 + 1).cast("int")).as("event_type"),
      cents(col("id"), "p", 50.0, 150.0).as("value"))
  }

  /** The seven TPC-H tables at `factor` × sf0.1, in the testdata
    * schemas (see [[writeTables]] for the properties kept).
    */
  def genTpch(spark: SparkSession, factor: Double): Seq[(String, DataFrame)] = {
    def n(t: String) = rowCount(t, factor)
    val id = col("id")
    def range(t: String) = spark.range(n(t))
    Seq(
      "region" -> range("region").select(id.cast("int").as("r_regionkey"),
        element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST")), (id + 1).cast("int")).as("r_name")),
      "nation" -> range("nation").select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "customer" -> range("customer").select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        hashMod(id, "cn", 25).cast("int").as("c_nationkey"),
        cents(id, "cb", -999.99, 9999.99).as("c_acctbal"),
        pick(id, "cm", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "supplier" -> range("supplier").select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        hashMod(id, "sn", 25).cast("int").as("s_nationkey"),
        cents(id, "sb", -999.99, 9999.99).as("s_acctbal")),
      "part" -> range("part").select(id.as("p_partkey"),
        concat_ws(" ", pick(id, "pa", Seq("blue", "cold", "hot", "large",
            "new", "old", "red", "small")),
          pick(id, "pn", Seq("anvil", "bolt", "gear", "gizmo", "plate",
            "ring", "rod", "widget"))).as("p_name"),
        concat(lit("Brand#"), floor(u(id, "pb") * 25) + 1).as("p_brand"),
        pick(id, "pt", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
          "STANDARD")).as("p_type"),
        (floor(u(id, "ps") * 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice")),
      "orders" -> range("orders").select(id.as("o_orderkey"),
        hashMod(id, "oc", n("customer")).as("o_custkey"),
        pick(id, "os", Seq("F", "O", "P")).as("o_orderstatus"),
        cents(id, "ot", 1000.0, 500000.0).as("o_totalprice"),
        day(id % 2400).as("o_orderdate"),
        pick(id, "op", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      // each line ships 0-119 days after its order's date, so Q20's
      // 1997 window and Q21's 60-day lateness both select real rows
      "lineitem" -> range("lineitem").select(
        (id % n("orders")).as("l_orderkey"),
        hashMod(id, "lp", n("part")).as("l_partkey"),
        hashMod(id, "ls", n("supplier")).as("l_suppkey"),
        (id / n("orders") % 7 + 1).cast("int").as("l_linenumber"),
        (id % 50 + 1).cast("double").as("l_quantity"),
        cents(id, "ep", 900.0, 105000.0).as("l_extendedprice"),
        ((id % 11).cast("double") / 100.0).as("l_discount"),
        ((id % 9).cast("double") / 100.0).as("l_tax"),
        pick(id, "rf", Seq("A", "N", "R")).as("l_returnflag"),
        pick(id, "lst", Seq("F", "O")).as("l_linestatus"),
        day(id % n("orders") % 2400 + id % 120).as("l_shipdate")))
  }

  /** Every registry query Scale has timed, under the table whose row
    * count its `rows` field reports. The rule: every registry name a
    * probe, wave or loop recorded, plus each query a `<q>_pin` probe
    * ran.
    */
  val Queries: ListMap[String, Seq[String]] = ListMap(
    "documents" -> Seq("dedup_exact", "dedup_minhash_lsh",
      "dedup_simhash_pairs", "dedup_clusters", "dedup_ngram_jaccard",
      "dedup_incremental", "dedup_containment", "dedup_chunks",
      "dedup_windows", "dedup_eval_containment", "corpus_kl",
      "corpus_gopher", "corpus_chunk_tokens", "corpus_bpe_pairs",
      "corpus_dsir", "corpus_bloom", "corpus_sample_weighted",
      "corpus_c4_filters", "corpus_ppl_buckets", "text_tfidf",
      "text_normalize", "text_term_burstiness", "text_textrank",
      "sketch_hll", "sketch_cms_topk", "sketch_kmv", "sketch_kmv_jaccard",
      "layout_shard_plan", "layout_prune_report", "mm_phash_dedup"),
    "embeddings" -> Seq("dedup_embedding", "dedup_semantic",
      "dedup_semantic_verdict", "ann_topk_lsh", "ann_topk_ivf",
      "ann_knn_graph", "ann_topk_pq", "ann_topk_ivfpq", "ann_topk_hamming",
      "ann_hard_negatives", "ann_hard_negatives_ivf", "ann_triangles",
      "ann_range_search", "embed_kmeans", "embed_prune", "embed_pq_codes",
      "embed_sq8", "embed_rp", "embed_pagerank", "embed_mmr_rerank",
      "embed_isotropy", "embed_cluster_purity", "embed_power_iter"),
    "events" -> Seq("stats_robust", "stats_kruskal", "stats_psi",
      "stats_friedman", "stats_jonckheere", "stats_changepoint",
      "stats_ad_2sample", "stats_mood_median", "stats_dunn",
      "sketch_quantiles", "layout_zorder", "eod_hurst",
      "eod_portfolio_weighted", "eod_risk_parity", "eod_factor_ols",
      "eod_es_backtest", "eod_holt", "eod_kalman", "eod_vol_targeting",
      "tick_hawkes", "events_funnel", "events_lifecycle", "events_scd2",
      "events_attribution", "events_journeys", "events_dau_mau",
      "events_cohort_ltv", "events_conversion_lag", "events_cuped",
      "events_markov_attribution", "events_lift_by_segment",
      "streaming_hawkes", "streaming_journeys", "streaming_attribution",
      "streaming_conversion_lag", "streaming_streaks", "streaming_ab_gate"),
    "lineitem" -> Seq("rel_tpch_q8", "rel_tpch_q20", "rel_tpch_q21"))

  def main(args: Array[String]): Unit = {
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,10,50")
      .split(",").map(_.trim.toLong)
    // Optional comma-list of op names: run only those probes (so a new
    // probe's rows can be appended to SCALE.json without re-running the
    // whole suite). Input generation always runs.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def wanted(op: String): Boolean =
      op == "gen" || only.forall(_.contains(op))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Graft.register(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-scale").toString

    // A failed op must not kill the probe: record it and move on, so
    // one regression still yields a full scaling record for the rest.
    // NonFatal only — after an OutOfMemoryError the JVM is degraded
    // and every later "measurement" would be silent garbage.
    def attempt(op: String, m: Long, rows: Long)(body: => String): Unit =
      try println(s"""{"op":"$op","scale":$m,"rows":$rows${body}}""")
      catch {
        case scala.util.control.NonFatal(e) =>
          val msg = e.toString.replaceAll("[\"\\\\\n\r\t]", " ").take(160)
          println(s"""{"op":"$op","scale":$m,"rows":$rows,"err":"$msg"}""")
      }
    def timed(op: String, m: Long, rows: Long)(body: => Unit): Unit =
      if (wanted(op)) attempt(op, m, rows) {
        val t0 = System.nanoTime()
        body
        s""","sec":${math.round((System.nanoTime() - t0) / 1e6) / 1e3}"""
      }
    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    for (m <- scales) {
      val dir = s"$root/$m"
      def rows(table: String): Long = rowCount(table, m.toDouble)
      timed("gen", m, Sf01Rows.keys.map(rows).sum) {
        writeTables(spark, dir, m.toDouble)
      }
      val nEmb = rows("embeddings")
      // The kNN-graph family sizes its LSH planes from this conf; with
      // the default of 4 planes, 100k vectors mean ~6k-
      // occupancy buckets and a ~quadratic pair join (measured 8.3→49 s
      // across 1×→10×, executor death at 50×).
      spark.conf.set("graft.ann.planes", Similarity.planesForN(nEmb).toString)
      for ((table, qs) <- Queries; q <- qs)
        timed(q, m, rows(table)) { sink(SparkEntry.queries(q)(spark, dir)) }

      // why: the size of what a query pins is a property of the data,
      // not a time; flat or sublinear across factors is the pass
      // condition. Re-derived with the same public expressions.
      def pinRows(q: String, table: String)(n: DataFrame => Long): Unit =
        if (wanted(q)) attempt(s"${q}_pin_rows", m, rows(table)) {
          s""","pin_rows":${n(Tables.load(spark, dir, table))}"""
        }
      // stats_dunn pins (event_type, quantized-return) counts — the
      // distinct quantized-return grid, not the row count, bounds it.
      pinRows("stats_dunn", "events") { ev =>
        val wTp = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
        ev.withColumn("ret", graft.functions.Eod.toReturns(col("value"), wTp))
          .where(col("ret").isNotNull)
          .select(col("event_type"),
            floor(col("ret") * 1e6 + 0.5).cast("long").as("q"))
          .distinct().count()
      }
      // text_textrank pins bigram counts — vocabulary (Heaps-law
      // sublinear; the generator draws from a 5000-token pool, so the
      // bigram space saturates).
      pinRows("text_textrank", "documents") { docs =>
        val toks = graft.functions.Text.tokens(col("text"))
        docs.select(explode(zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            (a, b) => struct(a.as("x"), b.as("y")))).as("p"))
          .select(col("p.x"), col("p.y")).distinct().count()
      }
      // dedup_eval_containment pins the truth/candidate PAIR sets — the
      // planted-dup fraction of the corpus, linear in dups but far below
      // the shingle joins that produce them.
      pinRows("dedup_eval_containment", "documents") { docs =>
        graft.operators.Dedup.ngramJaccardPairs(
          docs.select(col("doc_id"), col("text")), "doc_id", "text",
          threshold = 0.5).count()
      }

      // why: recall against the PLANTED near-dups (every id ≡ 9 mod 10
      // copies id − 1 at cosine ≈ 0.99998) is a property of the answer
      // the oracle cannot see — an oracle-equal answer that finds
      // nothing passes it. Read off the registry query's own pairs.
      for ((op, q) <- Seq("dedup_embedding_recall" -> "dedup_embedding",
          "dedup_semantic_recall" -> "dedup_semantic"))
        timed(s"${op}_pct", m, nEmb) {
          val found = SparkEntry.queries(q)(spark, dir)
            .where(col("id_b") - col("id_a") === 1 && col("id_b") % 10 === 9)
            .count()
          val expected = nEmb / 10
          println(s"""{"op":"$op","scale":$m,"found":$found,"expected":$expected,"recall":${found.toDouble / expected}}""")
        }

      // why: no testdata table holds a degenerate near-dup cluster.
      // 25% of the corpus is replaced by ONE constant vector — all its
      // copies land in the same sign bucket of every table. Uncapped
      // that bucket alone is (n/4)² pairs in one task; with the cap set
      // below the cluster size the bucket drops from both tables, and
      // the wall-time must stay in line with ann_knn_graph's — the
      // evidence the cap bounds the max-task pair count.
      if (wanted("ann_knn_graph_hotbucket")) {
        // Materialized OUTSIDE the timing: Catalyst re-evaluates the
        // `when(·, constLit)` branch inside each of the 2·planes bucket
        // expressions (a measured 9× on the bare scan), and that harness
        // cost must not be charged to the op.
        val constV = typedLit((0 until 64).map(d => 0.5 + 0.001 * d))
        Tables.load(spark, dir, "embeddings").select(col("vec_id"),
            when(col("vec_id") % 4 === 0, constV)
              .otherwise(col("embedding").cast("array<double>"))
              .as("embedding"))
          .write.mode("overwrite").parquet(s"$dir/embspiked")
        val spiked = spark.read.parquet(s"$dir/embspiked")
        timed("ann_knn_graph_hotbucket", m, nEmb) {
          sink(Similarity.knnGraph(spiked, "vec_id", "embedding", 10, 64,
            planes = Similarity.planesForN(nEmb),
            maxBucket = math.max(64, (nEmb / 8).toInt)))
        }
      }

      // why: Theil–Sen's d(d−1)/2 slope grid grows with the DAY count,
      // and every written table spans sf0.1's 30 days. This twin spaces
      // events 60 s apart (~70·m days): op 379's all-pairs grid must not
      // dominate until d is in the thousands, and the trailing-14-day
      // windowed variant must track the day count linearly.
      if (Seq("stats_theil_sen_wide", "stats_theil_sen_windowed_wide")
          .exists(wanted)) {
        Tables.load(spark, dir, "events")
          .withColumn("ts", timestamp_micros(lit(1704067200000000L) +
            col("event_id") * 60000000L).cast("timestamp_ntz"))
          .write.mode("overwrite").parquet(s"$dir/wide/events.parquet")
        for (q <- Seq("stats_theil_sen", "stats_theil_sen_windowed"))
          timed(s"${q}_wide", m, rows("events")) {
            sink(SparkEntry.queries(q)(spark, s"$dir/wide"))
          }
      }

      // why: AQE's skew-join split needs one hot key holding most of a
      // shuffle side; no testdata table has one. Broadcast is disabled
      // so the skew-join path (not a broadcast) is what's measured.
      if (Seq("skew_join_agg", "skew_join_agg_forced").exists(wanted)) {
        val nFact = 600000L * m
        genSkewFact(spark, nFact).write.mode("overwrite")
          .parquet(s"$dir/fact")
        val fact = spark.read.parquet(s"$dir/fact")
        val dimTbl = spark.range(1001)
          .select(when(col("id") === 1000, lit("hot"))
            .otherwise(concat(lit("k"), col("id"))).as("key"),
            col("id").as("attr"))
        def joined = fact.join(dimTbl, "key").groupBy(col("key"))
          .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
        def skewSplit(op: String, df: DataFrame): Unit =
          println(s"""{"op":"$op","scale":$m,"skew_split":${df.queryExecution.executedPlan.toString.contains("skew=true")}}""")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try {
          val j1 = joined
          timed("skew_join_agg", m, nFact) { require(j1.collect().nonEmpty) }
          skewSplit("skew_join_agg_plan", j1)
          // skew_split is false above for TWO stacked reasons, both worth
          // recording: (1) at probe scale the hot partition's compressed
          // shuffle bytes sit under AQE's 256 MB default threshold — the
          // production condition is bytes > threshold, so scale the
          // threshold down since the data can't grow to 100 TB locally;
          // (2) the join feeds an agg on the SAME key, so AQE's cost rule
          // skips the split (it would break the join's output partitioning
          // and cost an extra shuffle) unless forceOptimizeSkewedJoin opts
          // into that trade. At 100 TB you flip that flag exactly when the
          // skewed build dominates the extra shuffle — or salt the agg key
          // instead (graft.operators.Skew).
          spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
          spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
          spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
          val j2 = joined
          timed("skew_join_agg_forced", m, nFact) { j2.collect() }
          skewSplit("skew_join_agg_plan_scaled_threshold", j2)
        } finally Seq("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.forceOptimizeSkewedJoin")
          .foreach(spark.conf.unset)
      }

      // why: the registry's streaming replays read each table as ONE
      // micro-batch, so no event-time timeout ever fires. This replays
      // the docs as a 4-file AvailableNow stream (maxFilesPerTrigger=1 →
      // 4 micro-batches, the watermark advances between them) at two
      // retentions: effectively infinite (state = every band bucket ever
      // touched) vs a 2-second horizon (idle buckets expire). The pair of
      // state_rows lines is the evidence that the TTL bounds state on an
      // unbounded stream instead of growing with corpus size.
      val docsPath = s"$dir/documents.parquet"
      val nDocs = rows("documents")
      if (wanted("streaming_minhash_state"))
        for (retention <- Seq("3650 days", "2 seconds"))
          attempt("streaming_minhash_state", m, nDocs) {
            val (sec, stateRows, flagged) =
              minhashStreamProbe(spark, docsPath, nDocs, retention)
            s""","retention":"$retention","sec":$sec,"state_rows":$stateRows,"flagged":$flagged"""
          }

      // why: space-saving state must stay ≤ buckets·capacity while the
      // token stream grows; the registry's heavy-hitter oracle runs where
      // the vocabulary fits, so only this probe sees evictions. The
      // corpus has ~5000 distinct tokens, far beyond 16 buckets ×
      // capacity 16 = 256 counters.
      if (wanted("spacesaving_state_rows"))
        attempt("spacesaving_state_rows", m, nDocs) {
          val (sec, stateRows) = spaceSavingProbe(spark, docsPath, capacity = 16)
          s""","sec":$sec,"state_rows":$stateRows"""
        }
      spark.conf.unset("graft.ann.planes")
    }
    spark.stop()
  }

  /** One AvailableNow replay of the generated doc corpus through
    * [[graft.streaming.Stateful.minhashDedupStream]], split into 4
    * id-ordered source files so the run spans 4 micro-batches (the
    * watermark only advances between batches; a single-batch replay
    * would never fire a timeout and the state measurement would be
    * vacuous). Returns (wall sec, final state rows, dup rows emitted).
    */
  def minhashStreamProbe(spark: SparkSession, docsPath: String,
                         nDocs: Long, retention: String): (Double, Long, Long) = {
    import java.nio.file.{Files, Paths}
    val docs = spark.read.parquet(docsPath).select(col("doc_id"), col("text"))
    val stage = Files.createTempDirectory("graft-smh-in")
    val ckpt = Files.createTempDirectory("graft-smh-ck").toString
    val parts = 4
    val per = (nDocs + parts - 1) / parts
    for (p <- 0 until parts) {
      val tmp = Files.createTempDirectory(s"graft-smh-p$p").toString
      docs.where(col("doc_id") >= p * per && col("doc_id") < (p + 1) * per)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val srcFile = Files.list(Paths.get(tmp)).iterator()
      var found: java.nio.file.Path = null
      while (srcFile.hasNext) {
        val f = srcFile.next()
        if (f.toString.endsWith(".parquet")) found = f
      }
      val dst = stage.resolve(f"part-$p%02d.parquet")
      Files.copy(found, dst)
      // FileStreamSource orders new files by modification time: pin an
      // increasing mtime per part so batches replay in id order.
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1712928600000L + p * 1000))
    }
    val src = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      .withColumn("ts", timestamp_micros(
        lit(1712928600000000L) + col("doc_id") * 1000L))
    val t0 = System.nanoTime()
    val q = graft.queries.StreamingQueries.streamScope(spark) {
      val run = graft.streaming.Stateful
        .minhashDedupStream(src, "doc_id", "text", "ts", retention = retention)
        .toDF.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      run.awaitTermination()
      run
    }
    val sec = math.round((System.nanoTime() - t0) / 1e6) / 1e3
    val stateRows = q.recentProgress.reverseIterator
      .flatMap(p => Option(p.stateOperators).filter(_.nonEmpty))
      .nextOption().map(_.map(_.numRowsTotal).sum).getOrElse(-1L)
    val flagged = q.recentProgress.iterator
      .map(p => Option(p.sink).map(_.numOutputRows).getOrElse(0L))
      .filter(_ > 0).sum
    (sec, stateRows, flagged)
  }

  /** One AvailableNow replay of the generated docs' token stream
    * through [[graft.streaming.Stateful.spaceSavingStream]]; returns
    * (wall sec, final COUNTER rows). The store's numRowsTotal only
    * counts flatMapGroupsWithState GROUP records (one per bucket — it
    * would read `buckets` even if eviction were broken and the
    * per-bucket arrays grew with the vocabulary), so the probe
    * measures the invariant directly from the emissions: each batch
    * re-emits every bucket's CURRENT candidate table, so the single
    * AvailableNow batch's sink row count IS the final counter count —
    * ≤ buckets·capacity iff eviction holds, ~vocabulary size if not.
    */
  def spaceSavingProbe(spark: SparkSession, docsPath: String,
                       capacity: Int): (Double, Long) = {
    import spark.implicits._
    val docs = spark.read.parquet(docsPath)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ss-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ss-out").toString
    val in = spark.readStream.schema(docs.schema).parquet(docsPath)
      .select(explode(split(col("text"), " ")).as("tok"))
      .select((graft.operators.Sketch.kmvHash(col("tok")) % 16).cast("int")
        .as("bucket"), col("tok").as("token"))
      .as[graft.streaming.Stateful.SSIn]
    val t0 = System.nanoTime()
    // foreachBatch (parquet's file sink is Append-only; this stateful
    // op runs in Update mode); the LAST batch's emission is the final
    // counter table, so keep its count.
    val lastBatchRows = new java.util.concurrent.atomic.AtomicLong(-1L)
    graft.queries.StreamingQueries.streamScope(spark) {
      graft.streaming.Stateful.spaceSavingStream(in, capacity)
        .toDF.writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.persist() // one execution: count + write share the batch
          lastBatchRows.set(b.count())
          b.write.mode("append").parquet(out)
          b.unpersist()
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val sec = math.round((System.nanoTime() - t0) / 1e6) / 1e3
    (sec, lastBatchRows.get())
  }
}
