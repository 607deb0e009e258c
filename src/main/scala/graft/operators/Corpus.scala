package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Corpus-curation operators for training-data pipelines, beyond the
  * dedup family: repetition-based quality stats, deterministic
  * stratified sampling (data mixtures), benchmark-contamination
  * detection, and sequence packing. All pure column algebra /
  * keyed-shuffle shapes — each op is one or two hash shuffles at any
  * corpus size, and every "random" choice is md5-derived so a SQL
  * oracle replays it exactly.
  */
object Corpus {

  /** Repetition stats per doc (the n-gram repetition signals of
    * MassiveText/Gopher-style quality rules, Rae et al. 2021): the
    * fraction of all word n-grams taken by the single most frequent
    * n-gram, and the distinct-n-gram fraction. High top-fraction or low
    * distinct-fraction = boilerplate/spam. One explode + two partial-agg
    * friendly aggregations (shuffles on (id, gram) then id).
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame =
    df.select(col(idCol).as("id"),
        explode(Text.ngrams(col(textCol), n)).as("g"))
      .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(max(col("c")).as("maxc"), count(lit(1)).as("nd"),
        sum(col("c")).as("nt"))
      .select(col("id"),
        round(col("maxc").cast("double") / col("nt"), 6).as("top_ngram_frac"),
        round(col("nd").cast("double") / col("nt"), 6).as("distinct_frac"))

  /** Gopher stopwords (Rae et al. 2021 §A1.1): a doc should contain at
    * least two of these to count as natural language.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality rule verdicts (Rae et al. 2021 §A1.1, the
    * MassiveText filter): per-doc word count, mean word length,
    * alphabetic-word fraction, stopword hits, and symbol-to-word
    * ratio, each against the published thresholds, plus the composite
    * keep flag. The line-shape rules (bullet/ellipsis line fractions)
    * are omitted — they need a line structure the whitespace-token
    * convention (and single-line corpora) don't carry.
    *
    * Thresholds: 50 ≤ words ≤ 100k; 3 ≤ mean word length ≤ 10;
    * ≥80% of words contain an alphabetic char; ≥2 stopword hits;
    * (#'#' + #'...') / words ≤ 0.1.
    *
    * Pure per-row column algebra over the token array — no shuffle at
    * all; at 100 TB this is a map-only pass that prunes at the scan.
    */
  def gopherQualityRules(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val n = size(toks).cast("double")
    val meanLen = aggregate(toks, lit(0L),
      (acc, t) => acc + length(t)).cast("double") / n
    val alphaFrac = size(filter(toks, t => t.rlike("[A-Za-z]"))) / n
    val nStop = Text.markerHits(toks, GopherStopwords)
    val hashes = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))).cast("double")
    val ellipses = ((length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3).cast("double")
    val symbolRatio = (hashes + ellipses) / n
    df.select(col(idCol),
        n.cast("long").as("n_words"),
        round(meanLen, 6).as("mean_word_len"),
        round(alphaFrac, 6).as("alpha_frac"),
        nStop.cast("long").as("n_stop"),
        round(symbolRatio, 6).as("symbol_ratio"))
      .withColumn("keep",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("alpha_frac") >= 0.8 &&
          col("n_stop") >= 2 &&
          col("symbol_ratio") <= 0.1)
  }

  /** C4-style line-level filters (Raffel et al. 2020 §2.2, the
    * heuristics FineWeb/RefinedWeb descend from): keep a line iff it
    * ends in a terminal punctuation mark AND has ≥ `minWordsPerLine`
    * words; drop the whole doc if fewer than `minKeptLines` lines
    * survive, or it mentions "lorem ipsum", or it contains a curly
    * brace (the code-leak heuristic). Output per doc: line counts,
    * the flags, the kept word total, an md5 digest of the cleaned
    * (kept-lines-only) text, and the final keep verdict.
    *
    * Scale shape: everything is per-row array algebra (split + HOF
    * filter/aggregate) — NO explode, NO shuffle, prunes at the scan;
    * the cheapest possible formulation of a line filter at 100 TB.
    * The DuckDB oracle replays the same list pipeline, so the digest
    * (and thus the exact kept-line set) is hash-gated, not just the
    * counts.
    */
  def c4LineFilters(df: DataFrame, idCol: String, textCol: String,
                    minWordsPerLine: Int = 5,
                    minKeptLines: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    def nWords(l: Column): Column =
      when(length(trim(l)) === 0, lit(0))
        .otherwise(size(split(trim(l), "\\s+")))
    def endsPunct(l: Column): Column =
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"")
    val kept = filter(lines,
      l => endsPunct(l) && nWords(l) >= minWordsPerLine)
    df.select(col(idCol).as("id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept_lines"),
        aggregate(kept, lit(0L), (acc, l) => acc + nWords(l))
          .as("n_words_kept"),
        lower(col(textCol)).contains("lorem ipsum").as("has_lorem"),
        col(textCol).contains("{").as("has_brace"),
        md5(array_join(kept, "\n")).as("kept_digest"))
      .withColumn("keep_doc",
        col("n_kept_lines") >= minKeptLines &&
          !col("has_lorem") && !col("has_brace"))
  }

  /** Sliding-window token chunking for training-sequence construction:
    * the complement of [[packSequences]] — long docs become overlapping
    * fixed-size windows (stride < window ⇒ overlap, the standard LM
    * preprocessing shape). Chunk i covers tokens
    * [i·stride, i·stride + window); the last chunk may be short; a doc
    * shorter than one window is one chunk. Output: (id, chunk_idx,
    * n_tokens, chunk_hash) — the hash stands in for the token slice so
    * verdicts stay narrow (join back by (id, chunk_idx) for payloads).
    *
    * One generate per doc (explode of a computed index range) — linear
    * output (~n/stride rows per doc), no shuffle; chunking prunes at
    * the scan at any corpus size.
    */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String,
                  window: Int = 64, stride: Int = 32): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val toks = Text.tokens(col(textCol))
    val n = size(toks)
    val nChunks = when(n <= window, lit(1L))
      .otherwise(ceil((n - lit(window)).cast("double") / stride).cast("long") + 1L)
    df.select(col(idCol), toks.as("_toks"), n.as("_n"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        least(lit(window),
          col("_n") - col("chunk_idx") * stride).cast("long").as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("_toks"),
            (col("chunk_idx") * stride + 1).cast("int"), lit(window))))
          .as("chunk_hash"))
  }

  /** Corpus-wide adjacent-character-pair frequencies — the counting
    * step of one BPE merge round (Sennrich et al. 2016), which is what
    * tokenizer training spends its time on at corpus scale: count all
    * within-word adjacent symbol pairs, pick the most frequent, merge,
    * repeat. Output: the topK (pair, n) rows, ranked by count then
    * pair (a total order, so the cut is deterministic).
    *
    * Two explodes (words, then pairs) + one count shuffle — the same
    * postings shape as every other corpus op; the topK cut is a
    * k-row ORDER BY over the pair-count table (bounded: ≤ alphabet²
    * rows survive the groupBy, not corpus-sized).
    */
  def bpePairStats(df: DataFrame, idCol: String, textCol: String,
                   topK: Int = 20): DataFrame =
    df.select(explode(Text.tokens(col(textCol))).as("w"))
      .where(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)

  /** Per-stratum adaptive length filter: keep rows whose length sits
    * within the [lo, hi] quantile band of their OWN stratum (the
    * outlier-trim every curation pipeline applies before quality
    * scoring — absolute thresholds are wrong across sources with
    * different length regimes). Quantiles are exact interpolated
    * (R-7); the band rides a per-stratum aggregate joined back, so the
    * whole op is one small agg + one broadcast-sized join at any
    * corpus size (strata counts, not row counts).
    */
  def adaptiveLengthFilter(df: DataFrame, strataCol: String,
                           lenCol: String, lo: Double = 0.05,
                           hi: Double = 0.95): DataFrame = {
    val bands = df.groupBy(col(strataCol))
      .agg(percentile(col(lenCol), lit(lo)).as("_lo"),
        percentile(col(lenCol), lit(hi)).as("_hi"))
    df.join(broadcast(bands), strataCol)
      .where(col(lenCol) >= col("_lo") && col(lenCol) <= col("_hi"))
      .withColumn("len_lo", round(col("_lo"), 6))
      .withColumn("len_hi", round(col("_hi"), 6))
      .drop("_lo", "_hi")
  }

  /** Deterministic uniform in [0,1) from the md5 of a column's string
    * form — the engine-neutral Bernoulli coin for sampling.
    */
  def md5Uniform(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("double") /
      4294967296.0

  /** Stratified Bernoulli sampling for data mixtures: keep a row iff
    * md5Uniform(id) < rate(stratum). Deterministic (same corpus → same
    * sample on any engine/cluster/partitioning — unlike
    * DataFrame.sample, whose draw depends on partition layout), and a
    * pure filter: no shuffle at all, prunes at the scan.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: Column,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(strataCol === k, lit(v)).otherwise(acc)
    }
    df.where(md5Uniform(col(idCol)) < rate)
  }

  /** Fixed-SIZE deterministic stratified sampling: min(n, |stratum|)
    * rows per stratum WITH OVERWHELMING PROBABILITY (see the pre-filter
    * note below — the coin set is deterministic per dataset, so a
    * stratum whose n smallest coins don't all survive the oversample
    * cut returns fewer rows for that data, not a re-rollable miss),
    * chosen as the n smallest md5-coin values (ties → id) — the "give
    * me 10k docs per source" twin of [[stratifiedSample]]'s Bernoulli
    * rates, equally deterministic on any engine/partitioning. Callers
    * that need the exact-n contract unconditionally should raise
    * `oversample` (failure odds fall as e^-Ω(n·oversample)) or run the
    * plain window (`oversample = ∞` ⇒ filter passes everything).
    *
    * Scale shape: a naive per-stratum window sorts EVERY row of a hot
    * stratum in one partition — the classic skew trap. Instead: one
    * stratum-count aggregate (broadcast back), a Bernoulli PRE-FILTER
    * at `oversample·n/count` that discards ~all of every large
    * stratum at the scan, then the exact top-n window over the
    * survivors only. The pre-filter keeps the n smallest coins with
    * overwhelming probability (chance of losing one ≈ the n-th order
    * statistic of |stratum| uniforms exceeding oversample·n/|stratum|
    * — e^-Ω(n) at oversample 4); the SQL oracle replays filter+window
    * identically, so the gate is exact even in the astronomically
    * unlikely tail.
    */
  def stratifiedSampleN(df: DataFrame, idCol: String, strataCol: Column,
                        n: Int,
                        oversample: Double = DefaultOversample): DataFrame = {
    val withU = df.withColumn("_stratum", strataCol)
      .withColumn("_u", md5Uniform(col(idCol)))
    val counts = withU.groupBy(col("_stratum"))
      .agg(count(lit(1)).as("_cnt"))
    val w = Window.partitionBy(col("_stratum"))
      .orderBy(col("_u"), col(idCol))
    withU.join(broadcast(counts), "_stratum")
      .where(col("_u") < sampleNRate(col("_cnt"), n, oversample))
      .withColumn("_rnk", row_number().over(w))
      .where(col("_rnk") <= n)
      .drop("_u", "_cnt", "_rnk")
      .withColumnRenamed("_stratum", "stratum")
  }

  /** Default oversample factor of [[stratifiedSampleN]]'s pre-filter. */
  val DefaultOversample = 4.0

  /** The pre-filter rate of [[stratifiedSampleN]] for a stratum of
    * `cnt` rows, min(1, oversample·n/cnt) — a stream ranking the same
    * survivor set applies the same rate.
    */
  def sampleNRate(cnt: Column, n: Int,
                  oversample: Double = DefaultOversample): Column =
    least(lit(1.0), lit(oversample * n) / cnt)

  /** Weighted sampling without replacement (Efraimidis & Spirakis 2006
    * A-Res): each row draws key = ln(u)/w (u = md5-uniform, w > 0 its
    * weight), and the n LARGEST keys per stratum are the sample —
    * exactly the distribution of sequentially drawing n rows with
    * probability ∝ weight, but embarrassingly parallel (the key needs
    * only the row itself). The curation use: "n docs per source,
    * longer docs proportionally more likely" without a sequential
    * sampler. Keys quantize to 1e-6 longs (ties → id) so the ranking
    * is engine-exact (SURVEY §6 ln convention).
    *
    * Scale shape: map-only key computation, ONE per-stratum window.
    * Weight-aware pre-filtering (the [[stratifiedSampleN]] trick)
    * needs the key distribution, not just counts, so a hot stratum
    * sorts its own rows here; bound it upstream with a cheap coarse
    * filter (e.g. drop keys below ln(u)/w_max of a prior run's n-th
    * key) when a stratum outgrows a partition.
    */
  def weightedSampleN(df: DataFrame, idCol: String, strataCol: Column,
                      weightCol: Column, n: Int): DataFrame = {
    val key = floor(
      log(md5Uniform(col(idCol)) + lit(0.5) / 4294967296.0) /
        weightCol.cast("double") * 1e6 + 0.5).cast("long")
    val w = Window.partitionBy(col("_stratum"))
      .orderBy(col("_key").desc, col(idCol))
    // weight ≤ 0 ⇒ sampling probability 0 (and an ANSI divide hazard):
    // filter, don't compute.
    df.where(weightCol > 0)
      .withColumn("_stratum", strataCol)
      .withColumn("_key", key)
      .withColumn("_rnk", row_number().over(w))
      .where(col("_rnk") <= n)
      .withColumn("sample_key", col("_key"))
      .drop("_key", "_rnk")
      .withColumnRenamed("_stratum", "stratum")
  }

  /** UniMax language-budget allocation (Chung et al. 2023): spread a
    * total document budget across strata as uniformly as possible,
    * capping each stratum at its own size — the water-filling
    * allocation alloc_s = min(c_s, θ) with θ chosen so Σ alloc = B.
    * θ comes from a deterministic left fold over the (count, stratum)
    * array sorted ascending: the first position i (1-based, N strata,
    * prefix P_{i−1}) where P_{i−1} + c_i·(N−i+1) ≥ B fixes
    * θ = (B − P_{i−1})/(N−i+1); if even the full corpus fits the
    * budget, θ stays null and every stratum keeps its full count.
    *
    * Scale shape: the fold runs on ONE aggregated row (N strata ≈
    * tens), never on documents — one stratum count agg, a 1-row
    * broadcast back, and pure map algebra. Counts are integers held
    * exactly in doubles, so θ and the min(c, θ) cutoffs are
    * bit-identical across engines (no quantization needed).
    */
  def unimaxAllocation(df: DataFrame, strataCol: Column,
                       budgetFrac: Double): DataFrame = {
    val per = df.groupBy(strataCol.as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
    val packed = per.agg(
      count(lit(1)).as("nl"), sum(col("n_docs")).as("total"),
      array_sort(collect_list(struct(col("n_docs"), col("stratum"))))
        .as("cs"))
    val nlD = col("nl").cast("double")
    val budget = col("total").cast("double") * lit(budgetFrac)
    val theta = packed.select(
      col("total"),
      aggregate(col("cs"),
        struct(lit(0.0).as("i"), lit(0.0).as("p"),
          lit(null).cast("double").as("theta")),
        (acc, x) => {
          val c = x.getField("n_docs").cast("double")
          val i = acc.getField("i") + lit(1.0)
          val cand = (budget - acc.getField("p")) / (nlD - i + 1.0)
          struct(i.as("i"), (acc.getField("p") + c).as("p"),
            coalesce(acc.getField("theta"),
              when(acc.getField("p") + c * (nlD - i + 1.0) >= budget,
                cand)).as("theta"))
        }).getField("theta").as("theta"))
    per.crossJoin(broadcast(theta))
      .select(col("stratum"), col("n_docs"),
        when(col("theta").isNull, col("n_docs").cast("double"))
          .otherwise(least(col("n_docs").cast("double"), col("theta")))
          .as("alloc"),
        col("theta"), col("total"))
  }

  /** Data-mixture weights with temperature scaling (the multinomial
    * sampling rule of multilingual/multi-source training — Conneau &
    * Lample 2019 §3.1, w_s ∝ share_s^α): per-stratum doc/token counts,
    * corpus share, and the normalized α-scaled sampling weight. α < 1
    * upsamples the tail, α = 1 is proportional. share^α quantizes to
    * 1e-6 longs before normalizing so the weights replay exactly
    * (pow's last ulp can differ across engines; SURVEY §6).
    *
    * Scale shape: one stratum aggregate (map-side combinable) + a
    * 1-row total broadcast — nothing else.
    */
  def mixtureWeights(df: DataFrame, strataCol: Column, textCol: String,
                     alpha: Double = 0.5): DataFrame =
    mixtureWeightsFromCounts(mixtureCounts(df, strataCol, textCol), alpha)

  /** The (stratum, n_docs, n_tokens) count table of [[mixtureWeights]]. */
  def mixtureCounts(df: DataFrame, strataCol: Column,
                    textCol: String): DataFrame =
    df.groupBy(strataCol.as("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col(textCol)).cast("long")).as("n_tokens"))

  /** [[mixtureWeights]] from a PRECOMPUTED (stratum, n_docs, n_tokens)
    * relation — public so the streaming monitor reuses the identical
    * share/weight algebra on counts maintained by a streaming
    * aggregation (counts only grow, so the max-merged Update sink IS
    * the final count table — the op-123/142 argument — and the
    * derived weights equal the batch op's exactly).
    */
  def mixtureWeightsFromCounts(per: DataFrame,
                               alpha: Double = 0.5): DataFrame = {
    val tot = per.agg(sum(col("n_tokens")).as("_tot")) // 1 row — broadcast
    val scaled = per.crossJoin(broadcast(tot))
      .withColumn("share", col("n_tokens").cast("double") / col("_tot"))
      .withColumn("_qs",
        floor(pow(col("share"), lit(alpha)) * 1e6 + 0.5).cast("long"))
    val qtot = scaled.agg(sum(col("_qs")).as("_qtot")) // 1 row — broadcast
    // floor-quantized (not round): a ratio of longs can land exactly
    // on the half-up tie grid, where engines split (SURVEY §6).
    scaled.crossJoin(broadcast(qtot))
      .select(col("stratum"), col("n_docs"), col("n_tokens"),
        (floor(col("share") * 1e6 + 0.5) / 1e6).as("share"),
        (floor(col("_qs").cast("double") / col("_qtot") * 1e6 + 0.5) / 1e6)
          .as("weight"))
  }

  /** Per-stratum token-distribution diagnostics: Shannon entropy of the
    * stratum's unigram distribution and its KL divergence from the
    * whole-corpus distribution — the mixture-health signal that catches
    * a source drifting from the corpus (templated/boilerplate sources
    * show low entropy and high KL; a healthy mix clusters near the
    * corpus entropy). KL(P_s ‖ P_c) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) with
    * P_c the pooled distribution, so every stratum term has p_c > 0 and
    * the divergence is finite by construction.
    *
    * Determinism: per-term contributions quantize to 1e-6 longs —
    * c_st·(ln c_st − ln n_s − ln c_t + ln N) for KL, c_st·(ln n_s −
    * ln c_st) for entropy — integer sums divide by n_s at the end
    * (the lmScore convention), so both metrics replay bit-exact.
    *
    * Scale shape: token explode → (stratum, tok) count (map-side
    * combinable), global per-token counts as a SECOND agg over the
    * first (vocab-sized input, not the corpus), a tok equi-join
    * between the two (AQE broadcasts a small vocab, shuffle-joins a
    * 100 TB one), stratum totals re-aggregated from the counts and
    * broadcast back. Strictly linear in corpus tokens; no pairs.
    */
  def klDivergence(df: DataFrame, strataCol: Column,
                   textCol: String): DataFrame = {
    val st = df.select(strataCol.as("stratum"),
        explode(Text.tokens(col(textCol))).as("tok"))
      .groupBy(col("stratum"), col("tok")).agg(count(lit(1)).as("cst"))
    val gl = st.groupBy(col("tok")).agg(sum(col("cst")).as("ct"))
    val ns = st.groupBy(col("stratum")).agg(sum(col("cst")).as("ns"),
      count(lit(1)).as("vocab"))
    val n = gl.agg(sum(col("ct")).as("n")) // 1 row — broadcast
    st.join(gl, "tok").join(broadcast(ns), "stratum")
      .crossJoin(broadcast(n))
      .select(col("stratum"), col("ns"), col("vocab"),
        floor(col("cst").cast("double") *
          (log(col("cst").cast("double")) - log(col("ns").cast("double")) -
           log(col("ct").cast("double")) + log(col("n").cast("double"))) *
          1e6 + 0.5).cast("long").as("qkl"),
        floor(col("cst").cast("double") *
          (log(col("ns").cast("double")) - log(col("cst").cast("double"))) *
          1e6 + 0.5).cast("long").as("qh"))
      .groupBy(col("stratum"))
      .agg(max(col("ns")).as("n_tokens"), max(col("vocab")).as("vocab"),
        (floor(sum(col("qh")).cast("double") / max(col("ns")) + 0.5) / 1e6)
          .as("entropy"),
        (floor(sum(col("qkl")).cast("double") / max(col("ns")) + 0.5) / 1e6)
          .as("kl_from_corpus"))
  }

  /** Token-budget mixture plan — the step that turns [[mixtureWeights]]
    * into an executable sampling schedule: given a total token budget
    * B, each stratum's target is B·weight, its Bernoulli doc-sampling
    * rate is min(1, target/n_tokens) (an under-budget stratum keeps
    * everything; the α < 1 upsampled tail saturates at rate 1 rather
    * than inventing repeats), and expected_tokens = rate·n_tokens
    * reports the plan's realized size. The rate column feeds
    * [[stratifiedSample]] directly as the per-stratum rate map.
    *
    * Determinism: rates derive from the already-quantized weights and
    * integer token counts, then floor-quantize to 1e-6 — engine-exact.
    * Scale shape: [[mixtureWeights]]'s one aggregate + broadcasts;
    * this adds only literal arithmetic on the stratum-sized relation.
    */
  def tokenBudgetPlan(df: DataFrame, strataCol: Column, textCol: String,
                      budgetTokens: Long, alpha: Double = 0.5): DataFrame =
    mixtureWeights(df, strataCol, textCol, alpha)
      .withColumn("target_tokens",
        floor(col("weight") * budgetTokens + 0.5).cast("long"))
      .withColumn("rate", floor(least(lit(1.0),
        col("target_tokens").cast("double") / col("n_tokens")) * 1e6 + 0.5)
        / 1e6)
      .withColumn("expected_tokens",
        floor(col("rate") * col("n_tokens") + 0.5).cast("long"))

  /** Benchmark-contamination detection: for each train doc, the number
    * of its distinct word `width`-grams that appear in ANY benchmark
    * doc (n-gram-overlap decontamination, the GPT-3/C4 convention —
    * 8-13-gram collisions flag train docs that leak eval data).
    * Shuffles on the shingle key: linear in corpus postings, the same
    * scale shape as the dedup family; the benchmark side is typically
    * tiny and broadcast-joins.
    */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, width: Int = 8): DataFrame = {
    val tr = train.select(col(idCol).as("id"),
      explode(Dedup.shingles(col(textCol), width)).as("sh"))
    val be = bench.select(explode(Dedup.shingles(col(textCol), width)).as("sh"))
      .distinct()
    tr.join(be, "sh").groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
  }

  /** Unigram-LM quality score (the CCNet/CC-Net-style LM filter shape,
    * Wenzek et al. 2020, with the corpus itself as the language model):
    * per-doc mean token cross-entropy −avg(ln p(tok)) against the
    * corpus's own unigram distribution. Low = typical text, high =
    * gibberish/outlier — the standard quality-filter signal when no
    * external LM fits the budget.
    *
    * Two inherent passes over the tokens: (1) corpus frequencies —
    * one hash shuffle on token, partial-agg friendly; (2) token→freq
    * equi-join + per-doc agg. The frequency table is vocab-sized, so
    * AQE broadcasts it at small scale and shuffle-joins on the token
    * key at 100 TB; either way no pair expansion, strictly linear in
    * corpus tokens. Per-token values are quantized to 1e-6 integers
    * before summing, so the doc aggregate is order-independent and
    * bit-identical on any engine (SURVEY §6 conventions).
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(Text.tokens(col(textCol))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).as("n")) // 1 row — broadcast
    toks.join(freq, "tok").crossJoin(broadcast(total))
      .select(col("id"),
        floor((log(col("n").cast("double")) - log(col("c").cast("double"))) *
          1e6 + 0.5).as("q"))
      .groupBy(col("id"))
      .agg(
        (floor(sum(col("q")).cast("double") / count(lit(1)) + 0.5) / 1e6)
          .as("lm_xent"),
        count(lit(1)).as("n_tokens"))
  }

  /** TF-IDF top terms per doc (Sparck Jones 1972; the keyword-extract
    * signal curation pipelines use for topic tagging and source
    * diagnostics): tfidf = tf · ln(N/df), top `topK` terms per doc by
    * (score desc, term asc). Scores quantize to 1e-6 longs BEFORE
    * ranking, so ordering (and the SQL oracle) is engine-exact even
    * though ln is involved — the lmScore convention.
    *
    * Scale shape: token explode → (id, tok) tf agg → tok df agg (both
    * map-side combinable), a tok equi-join (AQE broadcasts a small
    * vocab, shuffle-joins a 100 TB one — never pair expansion), the
    * 1-row doc count as a broadcast cross join, one per-doc window.
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    topK: Int = 3): DataFrame = {
    val tf = df.select(col(idCol).as("id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ndocs = df.agg(count(lit(1)).as("n")) // 1 row — broadcast
    val w = Window.partitionBy(col("id"))
    tf.join(dfreq, "term").crossJoin(broadcast(ndocs))
      .withColumn("q", floor(col("tf").cast("double") *
        (log(col("n").cast("double")) - log(col("df").cast("double"))) *
        1e6 + 0.5).cast("long"))
      .withColumn("rnk",
        row_number().over(w.orderBy(col("q").desc, col("term"))).cast("long"))
      .where(col("rnk") <= topK)
      .select(col("id"), col("rnk"), col("term"),
        (col("q").cast("double") / 1e6).as("tfidf"))
  }

  /** DSIR importance weight (Xie et al. 2023, arXiv:2302.03169,
    * "Data Selection for Language Models via Importance Resampling"):
    * per-doc log importance weight Σ_g [ln p̂_target(b(g)) −
    * ln p̂_raw(b(g))] over hashed unigram+bigram features b(g) =
    * md5(g) mod `buckets`, with add-1 smoothing on both bucket
    * distributions. High weight = looks like the target domain;
    * resample the raw corpus by it to shift the mixture.
    *
    * Determinism: the per-feature log-ratio quantizes to 1e-6 longs
    * (one value per bucket), and the per-doc sum of longs is
    * order-free; md5 bucketing is engine-neutral.
    *
    * Scale shape: two bucket-count aggregations (≤ `buckets` groups,
    * map-side combinable), bucket totals as 1-row broadcasts, the
    * `buckets`-row ratio table broadcast into the probe explode, one
    * per-doc agg. Strictly linear in corpus grams; nothing pairwise.
    */
  def dsirWeight(df: DataFrame, target: DataFrame, raw: DataFrame,
                 idCol: String, textCol: String,
                 buckets: Int = 1024): DataFrame = {
    def grams(d: DataFrame, extra: Column*): DataFrame =
      d.select(extra :+ explode(concat(Text.tokens(col(textCol)),
        Text.ngrams(col(textCol), 2))).as("g"): _*)
    def bucket(g: Column): Column =
      conv(substring(md5(g), 1, 8), 16, 10).cast("long") % buckets
    def counts(d: DataFrame, cName: String): DataFrame =
      grams(d).select(bucket(col("g")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as(cName))
    // r14: tc/rc each feed BOTH the totals agg and the spine join —
    // pin the ≤`buckets`-row count relations so each tokenize+md5 gram
    // scan runs once, not twice (Catalyst re-plans shared subtrees).
    val tc = counts(target, "ct").localCheckpoint()
    val rc = counts(raw, "cr").localCheckpoint()
    val totals = tc.agg(sum(col("ct")).as("tt"))
      .crossJoin(rc.agg(sum(col("cr")).as("tr"))) // 1 row — broadcast
    // λ(b) = ln(ct+1) − ln(tt+B) − ln(cr+1) + ln(tr+B), 1e-6-quantized;
    // a range spine covers buckets unseen in either corpus (their
    // smoothed λ is ln((tr+B)/(tt+B)), not 0).
    val spine = df.sparkSession.range(buckets).select(col("id").as("b"))
    val ratio = spine
      .join(tc, Seq("b"), "left").join(rc, Seq("b"), "left")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
      .crossJoin(broadcast(totals))
      .select(col("b"), floor(
        (log(col("ct").cast("double") + 1.0)
          - log(col("tt").cast("double") + buckets)
          - log(col("cr").cast("double") + 1.0)
          + log(col("tr").cast("double") + buckets)) * 1e6 + 0.5)
        .cast("long").as("lq"))
    grams(df, col(idCol).as("id"))
      .select(col("id"), bucket(col("g")).as("b"))
      .join(broadcast(ratio), "b")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_feats"),
        (sum(col("lq")).cast("double") / 1e6).as("log_weight"))
  }

  /** Bloom-filter benchmark decontamination — the at-scale pre-filter
    * for [[contamination]]: the bench side compresses to a Bloom
    * filter over a `bits`-wide position space (`hashes` set bits per
    * distinct width-gram, from disjoint 8-hex slices of ONE md5
    * digest), and every train doc probes its distinct grams against
    * it. False positives at the classic (1−e^(−kn/m))^k rate, zero
    * false negatives — flagged docs go to the exact check, clean docs
    * skip the bench join entirely.
    *
    * The filter travels as the RELATION of set-bit positions
    * (≤ min(k·benchGrams, bits) longs — MBs at worst) probed by a
    * broadcast hash join: O(1) per probe, no wide payload on any row.
    * Two rejected shapes, both measured on the 50× scale probe: a
    * packed-bitmap ARRAY column attached per probe row re-materializes
    * the full bitmap for every gram (one 500 KB memcpy per row ≈
    * bits × grams cost — 68 s where this shape takes ~5 s), and
    * zero-filling that array via `element_at` over a map is O(bits²)
    * in one task (Spark map lookup is a linear scan — 4.6 min).
    * A gram hits iff all `hashes` of its position rows match; the
    * per-gram votes collapse map-side (explode-local), so the only
    * shuffle is the same skinny postings shape as [[contamination]].
    */
  def bloomContamination(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String, width: Int = 8,
                         bits: Int = 65536, hashes: Int = 3): DataFrame = {
    require(hashes >= 1 && hashes <= 4, "hashes are 8-hex md5 slices")
    // Positions from disjoint slices of ONE digest column (hash each
    // gram once, not once per slice).
    def positions(hex: Column): Column =
      array((0 until hashes).map(j =>
        conv(substring(hex, j * 8 + 1, 8), 16, 10).cast("long") % bits): _*)
    val setBits = bench
      .select(explode(Dedup.shingles(col(textCol), width)).as("sh"))
      .select(explode(positions(md5(col("sh")))).as("p")).distinct()
      .withColumn("_one", lit(1L))
    train.select(col(idCol).as("id"),
        explode(Dedup.shingles(col(textCol), width)).as("sh"))
      // grams are distinct per doc, so (id, digest) identifies a gram;
      // grouping on the digest keeps the gram shuffle skinny.
      .select(col("id"), md5(col("sh")).as("h"))
      .select(col("id"), col("h"), explode(positions(col("h"))).as("p"))
      .join(broadcast(setBits), Seq("p"), "left")
      .groupBy(col("id"), col("h"))
      .agg((sum(coalesce(col("_one"), lit(0L))) === hashes).as("hit"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_bloom_hits"))
      .withColumn("flagged", col("n_bloom_hits") > 0)
  }

  /** Measured vs theoretical Bloom false-positive rate (op 393) — the
    * eval harness for the op-93 filter's (bits, hashes) sizing, the
    * dedup_eval analog for the membership-sketch family. The filter
    * is built EXACTLY as [[bloomContamination]] builds it (same md5
    * slice positions); the probe set is `nQueries` synthetic grams
    * `nq_<md5(i)>` — 35-char strings, disjoint from every width-8
    * corpus shingle BY LENGTH, so every hit is a false positive by
    * construction, no exact-membership subtraction needed. Reported
    * against the standard (1 − e^{−kn/m})^k estimate with n = distinct
    * inserted grams. One distinct-agg per side + a broadcast bit join.
    */
  def bloomFpr(corpus: DataFrame, textCol: String, nQueries: Long = 20000L,
               width: Int = 8, bits: Int = 65536,
               hashes: Int = 3): DataFrame = {
    require(hashes >= 1 && hashes <= 4, "hashes are 8-hex md5 slices")
    def positions(hex: Column): Column =
      array((0 until hashes).map(j =>
        conv(substring(hex, j * 8 + 1, 8), 16, 10).cast("long") % bits): _*)
    val grams = corpus
      .select(explode(Dedup.shingles(col(textCol), width)).as("sh"))
      .select(md5(col("sh")).as("h")).distinct()
    val setBits = grams
      .select(explode(positions(col("h"))).as("p")).distinct()
      .withColumn("_one", lit(1L))
    val nIns = grams.agg(count(lit(1)).as("n_inserted"))
    val nBits = setBits.agg(count(lit(1)).as("n_set_bits"))
    val hits = corpus.sparkSession.range(nQueries)
      .select(md5(concat(lit("nq_"), md5(col("id").cast("string")))).as("h"))
      .select(col("h"), explode(positions(col("h"))).as("p"))
      .join(broadcast(setBits), Seq("p"), "left")
      .groupBy(col("h"))
      .agg((sum(coalesce(col("_one"), lit(0L))) === hashes).as("hit"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_false_hits"))
    hits.crossJoin(broadcast(nIns)).crossJoin(broadcast(nBits))
      .select(col("n_inserted"), col("n_set_bits"), col("n_queries"),
        col("n_false_hits"),
        (floor(col("n_false_hits").cast("double")
          / col("n_queries").cast("double") * 1e6 + 0.5) / 1e6)
          .as("fpr_measured"),
        round(pow(lit(1.0) - exp(col("n_inserted").cast("double")
          * lit(-hashes.toDouble) / lit(bits.toDouble)), hashes), 6)
          .as("fpr_theory"))
  }

  /** Chunk-level corpus dedup (the C4 "line dedup" shape, Raffel et
    * al. 2020 §2.2 — C4 drops any three-sentence span occurring more
    * than once in the corpus; here a chunk is a fixed window of
    * `chunkTokens` whitespace tokens, since the corpus has no sentence
    * boundaries). Per doc: chunk count, how many of its chunks are
    * corpus-duplicated (digest frequency ≥ `minCount` anywhere,
    * including within the same doc), and the cleaned text with the
    * duplicated chunks dropped (kept chunks rejoined in position
    * order; whitespace normalized by tokenization).
    *
    * Scale shape: chunking is per-row column algebra (no shuffle);
    * then ONE hash shuffle on the chunk digest for corpus counts, a
    * digest equi-join (AQE broadcasts the vocab-sized frequency side
    * when it is small), and ONE per-doc agg shuffle. Linear in corpus
    * tokens — the same postings shape as contamination/lmScore, no
    * pair expansion; a pathologically hot chunk ("" padding, menu
    * boilerplate) costs one skewed-but-bounded count row, never a
    * pair blowup.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 10, minCount: Long = 2): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val n = greatest(
      ceil(size(toks).cast("double") / chunkTokens).cast("int"), lit(1))
    val chunks = transform(sequence(lit(0), n - 1),
      i => concat_ws(" ", slice(toks, i * chunkTokens + 1, lit(chunkTokens))))
    val posed = df
      .select(col(idCol).as("id"), posexplode(chunks).as(Seq("pos", "chunk")))
      .withColumn("h", md5(col("chunk")))
    val freq = posed.groupBy(col("h")).agg(count(lit(1)).as("c"))
    posed.join(freq, "h")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("c") >= minCount, 1L).otherwise(0L)).as("n_dup_chunks"),
        array_join(transform(array_sort(collect_list(
            when(col("c") < minCount, struct(col("pos"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("clean_text"))
  }

  /** Exact-substring duplication stats (Lee et al. 2022,
    * arXiv:2107.06499, "Deduplicating Training Data Makes Language
    * Models Better" — ExactSubstr): the paper drops any ≥50-token span
    * shared between documents; here every OVERLAPPING `width`-token
    * window is digest-counted corpus-wide (a shared span of L tokens ⟺
    * a run of L−width+1 consecutive duplicated windows), and each doc
    * reports its window count, duplicated-window count, and longest
    * duplicated run — `max_dup_run ≥ L−width+1` is the paper's
    * criterion, checkable per doc with one filter. The suffix-array
    * machinery of the paper is a single-machine construction; the
    * window-digest formulation is its shuffle-native equivalent at
    * `width`-token granularity.
    *
    * Scale shape: one posexplode (n_tokens rows/doc, the same postings
    * volume as [[contamination]]), ONE digest-count shuffle, a digest
    * equi-join, a per-doc window for the run lengths (islands trick:
    * pos − row_number is constant within a consecutive run), and a
    * per-doc agg. Linear in corpus tokens; a white-hot window (menu
    * boilerplate) costs one skewed count row, never pair expansion.
    */
  def windowDedup(df: DataFrame, idCol: String, textCol: String,
                  width: Int = 8, minCount: Long = 2): DataFrame = {
    val posed = df.select(col(idCol).as("id"),
        posexplode(Text.ngrams(col(textCol), width)).as(Seq("pos", "g")))
      .select(col("id"), col("pos"), md5(col("g")).as("h"))
    val freq = posed.groupBy(col("h")).agg(count(lit(1)).as("c"))
    val flagged = posed.join(freq, "h")
      .select(col("id"), col("pos"), (col("c") >= minCount).as("dup"))
    val totals = flagged.groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_windows"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val runs = flagged.where(col("dup"))
      .withColumn("_grp", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("_grp")).agg(count(lit(1)).as("_run"))
      .groupBy(col("id")).agg(max(col("_run")).as("max_dup_run"))
    totals.join(runs, Seq("id"), "left")
      .select(col("id"), col("n_windows"), col("n_dup_windows"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"))
  }

  /** Sequence packing for training batches: within each stratum (order
    * = `ordCol`), assign docs to bins of ~`targetTokens` whitespace
    * tokens by cumulative count — bin = floor(tokens-before / target).
    * The deterministic keyed-window formulation of greedy packing: one
    * shuffle on the stratum key, any engine reproduces the bins.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    strataCol: Column, targetTokens: Int,
                    ordCol: String): DataFrame = {
    // window partitions on the RENAMED stratum (strataCol may be an
    // arbitrary expression no longer present after the projection)
    val w = Window.partitionBy(col("stratum")).orderBy(col(ordCol))
    df.select(strataCol.as("stratum"), col(ordCol),
        Text.tokenCount(col(textCol)).cast("long").as("ntok"))
      .withColumn("bin",
        floor((sum(col("ntok")).over(w) - col("ntok")) / targetTokens))
  }
}
