package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Corpus, Dedup}

/** LLM-training-data corpus operators (`corpus_`) and the end-to-end
  * curation pipelines (`pipeline_`). */
object CorpusQueries {

  val registry: Seq[(String, Registration)] = Seq(
    // Doc-length Gini per source (op 279): corpus concentration —
    // are a few giant documents carrying a source's token mass (a
    // mixture-weight and dedup-risk signal). The sorted-rank closed
    // form G = (2Σr·x − (n+1)Σx)/(nΣx) on exact integer lengths:
    // one rank window per source + one agg, no O(n²) pairing; ties
    // in x are rank-order-invariant (equal x ⇒ Σr·x unchanged), so
    // the statistic is engine-exact.
    "corpus_gini" -> Query((s, dir) => {
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
    },
      // op 279: same rank closed form on exact integer lengths.
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
          |FROM a ORDER BY source""".stripMargin),
    // Curriculum schedule (op 189): the corpus bucketed into quality
    // bins, highest first — the "easy/clean data early" training
    // order, emitted as a phase table a data loader consumes. Binning
    // is INTEGER on the 1e-6-quantized score (bin = qq div 1e5,
    // clamped — never floor(q·10) on a double, whose ulp at a bin
    // edge could flip engines), so bucket membership is exact; token
    // totals are integral sums; mean quality is the floor-mean of the
    // quantized scores. No window anywhere — map + one keyed agg.
    "corpus_curriculum" -> Query((s, dir) => {
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
    },
      // op 189: same quality kernel, integer binning on the quantized
      // score, floor-mean; BIGINT casts pin the hugeint sums.
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
          |FROM b GROUP BY bin ORDER BY phase""".stripMargin),
    // Gopher/MassiveText quality rule verdicts (op 110).
    "corpus_gopher" -> Query((s, dir) =>
      Corpus.gopherQualityRules(tbl(s, dir, "documents"), "doc_id", "text"),
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
          |FROM m ORDER BY doc_id""".stripMargin),
    // Ensemble quality vote (op 369; the production curation pattern —
    // single gates over/under-filter, so ship a MAJORITY of
    // independent signals): keep ⟺ ≥2 of {gopher rules pass, Flesch ≥
    // 10, unigram-LM xent < 3.41} — thresholds documented against this
    // corpus's measured distributions; per-source pass counts for each
    // gate + the ensemble keep rate, all exact integers over the three
    // gates' own hash-green values.
    "corpus_quality_vote" -> Query((s, dir) => {
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
    },
      // op 369: the three gates' own CTEs, coalesced left joins,
      // exact-integer vote.
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
          |FROM v GROUP BY source ORDER BY source""".stripMargin),
    // Sliding-window token chunking (op 111).
    "corpus_chunk_tokens" -> Query((s, dir) =>
      Corpus.tokenChunks(tbl(s, dir, "documents"), "doc_id", "text"),
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
          |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    // One BPE merge round's pair counts over the corpus (op 112).
    "corpus_bpe_pairs" -> Query((s, dir) =>
      Corpus.bpePairStats(tbl(s, dir, "documents"), "doc_id", "text"),
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
          |w AS (SELECT unnest(toks) AS w FROM t),
          |p AS (
          |  SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
          |  FROM w WHERE length(w) >= 2
          |)
          |SELECT pair, count(*) AS n FROM p
          |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin),
    // Per-source adaptive length trim (op 113): documents carries
    // n_chars and source natively.
    // Token-length distribution per language (op 402): the subword-
    // readiness histogram (long-tail token lengths predict BPE
    // fragmentation); lengths capped at 30 into one overflow bin.
    // One explode + one keyed count — map-side combinable.
    "corpus_token_histogram" -> Query((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("lang"), explode(Text.tokens(col("text"))).as("tok"))
        .select(col("lang"),
          least(length(col("tok")), lit(30)).cast("long").as("tok_len"))
        .groupBy(col("lang"), col("tok_len"))
        .agg(count(lit(1)).as("n")),
      // op 402: same whitespace tokens, same 30-cap overflow bin.
      """WITH tk AS (
          |  SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          |  FROM documents
          |)
          |SELECT lang, CAST(least(length(tok), 30) AS BIGINT) AS tok_len,
          |  count(*) AS n
          |FROM tk GROUP BY lang, least(length(tok), 30)
          |ORDER BY lang, tok_len""".stripMargin),
    "corpus_length_filter" -> Query((s, dir) =>
      Corpus.adaptiveLengthFilter(tbl(s, dir, "documents"), "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("len_lo"), col("len_hi")),
      """WITH b AS (
          |  SELECT source, quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi
          |  FROM documents GROUP BY source
          |)
          |SELECT doc_id, d.source, n_chars, round(lo, 6) AS len_lo, round(hi, 6) AS len_hi
          |FROM documents d JOIN b ON d.source = b.source
          |WHERE n_chars >= lo AND n_chars <= hi
          |ORDER BY doc_id""".stripMargin),
    "corpus_sample" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
        .withColumn("lang", Text.langId(col("text")))
      Corpus.stratifiedSample(d, "doc_id", col("lang"),
          Map("en" -> 0.9, "unknown" -> 0.25), defaultRate = 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    },
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
          |GROUP BY lang ORDER BY lang""".stripMargin),
    // Train/val/test split manifest (op 197): the md5-coin assignment
    // (80/10/10) every training run needs to be REPRODUCIBLE — the
    // same corpus always lands in the same split, regardless of
    // partitioning, insertion order, or engine (the stratifiedSample
    // coin, thresholded twice). Per (source, split): docs, tokens, and
    // the realized fraction (exact integer ratio over the tiny
    // source-sized relation). Map + one keyed agg + one small window.
    "corpus_split" -> Query((s, dir) =>
      splitManifest(splitAssign(tbl(s, dir, "documents"))),
      // op 197: same md5 coin, same thresholds, exact fractions.
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
          |FROM g ORDER BY source, split""".stripMargin),
    // Benchmark set = the original %97 docs; the corpus' planted
    // +2000000 copies of exactly those docs are the contamination to
    // catch (plus any real 8-gram collision).
    "corpus_contamination" -> Query((s, dir) => {
      val c = docCorpus(s, dir)
      val isBench = col("doc_id") % 97 === 0 && col("doc_id") < 1000000
      Corpus.contamination(c.where(!isBench), c.where(isBench),
          "doc_id", "text", width = 8)
        .withColumnRenamed("id", "doc_id")
    },
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
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "corpus_pack" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
        .withColumn("lang", Text.langId(col("text")))
      Corpus.packSequences(d, "doc_id", "text", col("lang"),
          targetTokens = 2048, ordCol = "doc_id")
        .groupBy(col("stratum"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("sum_tokens"))
    },
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
          |sc AS (SELECT doc_id, len(toks) AS ntok, $langScores FROM t),
          |l AS (SELECT doc_id, ntok, CASE $langCase ELSE 'unknown' END AS stratum FROM sc),
          |b AS (
          |  SELECT stratum, doc_id, ntok,
          |    CAST(floor((sum(ntok) OVER (PARTITION BY stratum ORDER BY doc_id) - ntok) / 2048.0) AS BIGINT) AS bin
          |  FROM l
          |)
          |SELECT stratum, bin, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS sum_tokens
          |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Bigram concentration (op 392): what fraction of each language's
    // bigram MASS the top-100 bigrams carry — the boilerplate /
    // template-saturation gauge (a high top-100 share means the
    // corpus repeats itself; the WIMBD-style "what's in my data"
    // count). Same keyed count + per-lang rank window as op 71, one
    // extra conditional sum; all-integer until the final ratio.
    "corpus_ngram_coverage" -> Query((s, dir) => {
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
    },
      // op 392: the op-71 bigram chain re-aggregated to top-100 mass
      // share per language.
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
          |FROM r GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- composite pipeline: quality-filter → exact-dedup → per-lang
    // token accounting — the operators composing end-to-end (op 75)
    "pipeline_clean_corpus" -> Query((s, dir) => {
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
    },
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
          |FROM canon WHERE doc_id = cid GROUP BY lang ORDER BY lang""".stripMargin),
    "corpus_lm_score" -> Query((s, dir) =>
      Corpus.lmScore(tbl(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("lm_xent"),
          col("n_tokens").cast("long").as("n_tokens")),
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
          |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // CCNet-style perplexity buckets (op 383; Wenzek et al. 2020):
    // per-language head/middle/tail TERCILES of the op-83 unigram
    // cross-entropy — the quality-stratified split CCNet feeds
    // downstream (head = cleanest third). ntile(3) over the
    // (quantized xent, doc_id) order is engine-exact; per-bucket
    // token mass is what the mixture planner actually budgets on.
    "corpus_ppl_buckets" -> Query((s, dir) => {
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
    },
      // op 383: the op-83 xent chain, ntile(3) on the identical
      // (quantized xent, doc_id) order, the same floor-mean.
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
          |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin),
    // Composite curation v2 (op 100): corpus-LM quality filter ×
    // exact-substring dedup filter × per-language token accounting,
    // all ONE plan over the planted-dup corpus.
    "pipeline_curate_v2" -> Query((s, dir) => {
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
    },
      // Curation v2: the corpus_lm_score and dedup_windows chains over
      // the SAME corpus, joined, filtered, per-lang accounted.
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
          "GROUP BY d.lang ORDER BY lang")),
    // Fixed-size per-source sample (op 98) and temperature-scaled
    // mixture weights (op 99) over the documents source strata.
    "corpus_sample_n" -> Query((s, dir) =>
      Corpus.stratifiedSampleN(
          tbl(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", col("source"), n = 5)
        .select(col("stratum").as("source"), col("doc_id")),
      // Two-phase fixed-size sample: Bernoulli pre-filter at
      // oversample·n/count, exact top-n by (coin, id) over survivors.
      (s"""WITH d AS (SELECT doc_id, source FROM documents),
          |c AS (SELECT source, count(*) AS cnt FROM d GROUP BY source),
          |u AS (SELECT doc_id, source,
          |  ${w8("md5(doc_id::VARCHAR)")} / 4294967296.0 AS u, cnt
          |  FROM d JOIN c USING (source)),
          |f AS (SELECT doc_id, source, u FROM u WHERE u < least(1.0, 20.0 / cnt)),
          |r AS (SELECT doc_id, source,
          |  row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rnk FROM f)
          |SELECT source, doc_id FROM r WHERE rnk <= 5
          |ORDER BY source, doc_id""".stripMargin)),
    "corpus_mixture" -> Query((s, dir) =>
      mixtureReport(Corpus.mixtureCounts(tbl(s, dir, "documents"),
        col("source"), "text")),
      // Temperature-scaled mixture weights: share^alpha quantized to
      // 1e-6 longs before normalizing; floor-quantized outputs.
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
          |FROM sc CROSS JOIN qt ORDER BY source""".stripMargin)),
    // UniMax budget allocation (op 293; Chung et al. 2023): the
    // op-99 temperature rule's successor — as-uniform-as-possible
    // language budgets capped at each language's own size, at 60% of
    // the corpus. Water level θ from a one-row array fold; counts are
    // exact in doubles so no quantization is needed (Corpus.scala
    // scaladoc).
    "corpus_unimax" -> Query((s, dir) =>
      Corpus.unimaxAllocation(tbl(s, dir, "documents"), col("lang"), 0.6)
        .select(col("stratum").as("lang"), col("n_docs"),
          round(col("alloc"), 4).as("alloc"),
          round(col("alloc") / col("n_docs").cast("double"), 6).as("epochs")),
      // op 293: the window replay of the same water level — first
      // ascending position where the prefix covers the budget; exact
      // integer-in-double arithmetic, identical division order.
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
          |FROM per LEFT JOIN th ON true ORDER BY lang""".stripMargin),
    // Per-source token-distribution diagnostics (op 155): unigram
    // entropy + KL from the pooled corpus distribution — the
    // mixture-health signal (templated sources: low H, high KL).
    // Integer-quantized per-term sums, divided at the end.
    "corpus_kl" -> Query((s, dir) =>
      Corpus.klDivergence(tbl(s, dir, "documents"), col("source"), "text")
        .select(col("stratum").as("source"), col("n_tokens"), col("vocab"),
          col("entropy"), col("kl_from_corpus")),
      // Entropy + KL vs pooled corpus: per-term 1e-6-quantized long
      // contributions, integer sums, divide by n_s at the end.
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
          |FROM q GROUP BY source ORDER BY source""".stripMargin)),
    // Token-budget mixture plan (op 156): mixtureWeights → executable
    // per-source Bernoulli rates for a 100k-token budget; the rate
    // column feeds stratifiedSample directly.
    "corpus_token_budget" -> Query((s, dir) =>
      Corpus.tokenBudgetPlan(tbl(s, dir, "documents"), col("source"),
          "text", budgetTokens = 100000L, alpha = 0.5)
        .select(col("stratum").as("source"), col("n_docs"), col("n_tokens"),
          col("weight"), col("target_tokens"), col("rate"),
          col("expected_tokens")),
      // mixtureWeights replayed, extended with the budget arithmetic
      // (all on the quantized weight grid — engine-exact).
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
          |FROM rt ORDER BY source""".stripMargin)),
    // Dedup impact report (op 167): what the curation pipeline prints
    // after exact dedup — per source, how many docs and tokens the
    // digest-canonical pass removes (keep = min doc_id per md5
    // digest, the op-46 rule). One digest groupBy joined back + one
    // keyed agg; the planted +2000000 copies make the removal
    // non-trivial and the %-of-corpus column meaningful.
    "corpus_dedup_report" -> Query((s, dir) => {
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
    },
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
          |FROM j GROUP BY source ORDER BY source""".stripMargin),
    // Executed token budget (op 172): the op-156 plan applied — docs
    // join their stratum's broadcast rate, the md5 coin keeps ~rate of
    // each source, and the report shows achieved vs target tokens (a
    // saturated stratum keeps everything; the rest land near target).
    // Pure filter at the scan + one keyed agg, deterministic on any
    // engine/partitioning.
    "corpus_budget_sample" -> Query((s, dir) => {
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
    },
      // op 172: the budget plan's rate CTEs + the md5-coin filter +
      // one keyed agg — the executed schedule.
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
          |GROUP BY d.source ORDER BY d.source""".stripMargin)),
    "corpus_dsir" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
      Corpus.dsirWeight(d, d.where(col("lang") === "en"), d,
          "doc_id", "text", buckets = 1024)
        .select(col("id").as("doc_id"), col("n_feats"), col("log_weight"))
    },
      // DSIR: hashed unigram+bigram buckets, add-1-smoothed target/raw
      // log-ratio per bucket (1e-6-quantized), summed per doc.
      {
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
      }),
    // Same corpus and bench split as corpus_contamination: the bloom
    // pre-filter must flag (at least) every doc the exact op catches.
    "corpus_bloom" -> Query((s, dir) => {
      val c = docCorpus(s, dir)
      val isBench = col("doc_id") % 97 === 0 && col("doc_id") < 1000000
      Corpus.bloomContamination(c.where(!isBench), c.where(isBench),
          "doc_id", "text", width = 8, bits = 65536, hashes = 3)
        .select(col("id").as("doc_id"), col("n_grams"),
          col("n_bloom_hits"), col("flagged"))
    },
      // Bloom decontamination: 3 positions per distinct bench 8-gram
      // from disjoint md5 hex slices; the filter is the relation of
      // set-bit positions; a train gram hits iff all 3 position rows
      // match (count = 3, duplicate positions each matching).
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
          "FROM hb GROUP BY doc_id ORDER BY doc_id")),
    // Efraimidis-Spirakis weighted sample: 20 docs per lang,
    // P(doc) ∝ n_chars, deterministic md5 draw (op 120).
    "corpus_sample_weighted" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Corpus.weightedSampleN(d, "doc_id", col("lang"), col("n_chars"), n = 20)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("sample_key"))
    },
      // Efraimidis-Spirakis keys replayed: ln((H + 0.5) / 2^32) / w,
      // quantized to 1e-6 longs, top-20 per lang (key desc, id).
      (s"WITH w AS (SELECT doc_id, lang, n_chars, " +
          s"CAST(floor(ln((${md5IntAt("doc_id::VARCHAR", "1")} + 0.5) / 4294967296.0) " +
          "/ CAST(n_chars AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS sample_key " +
          "FROM documents WHERE n_chars > 0), " +
          "r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY sample_key DESC, doc_id) AS rn FROM w) " +
          "SELECT doc_id, lang, n_chars, sample_key FROM r WHERE rn <= 20 ORDER BY lang, doc_id")),
    // C4 line filters (op 121) over a deterministic multi-line corpus
    // derived from documents (the raw text is single-line word soup, so
    // line rules on it would be vacuous — the PII-corpus convention):
    // 10-token lines; line i of doc d is a bullet when (d+i)%7=0, gets
    // "lorem ipsum" when %41=0, a brace when %43=0, and terminal
    // punctuation unless %3=0. The oracle replays construction AND
    // filter list-for-list (kept_digest is hash-gated).
    "corpus_c4_filters" -> Query((s, dir) => {
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
    },
      // C4 line filters: construction (10-token lines, modular bullet/
      // lorem/brace/punct decorations) and the line filter replayed
      // list-for-list; kept_digest gates the exact kept-line set.
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
          |FROM m ORDER BY doc_id""".stripMargin)),
    // Language-ID confusion matrix (op 223 — the op-53 classifier
    // EVALUATED against the declared label, the corpus-curation
    // QA report): count per (declared, predicted) cell. Pure
    // map + one keyed integer agg.
    "corpus_lang_confusion" -> Query((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("lang"), Text.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n")),
      // op 223: the op-53 scorer with the declared label carried
      // through, re-aggregated to confusion cells.
      s"""WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
          |sc AS (SELECT doc_id, lang, $langScores FROM t),
          |p AS (SELECT lang, CASE $langCase ELSE 'unknown' END AS lang_pred FROM sc)
          |SELECT lang, lang_pred, count(*) AS n
          |FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin),
    // Bigram conditional entropy per source (op 238 — the sequence-
    // predictability health check completing ops 206/207: low
    // H(w₂|w₁) = templated/repetitive text, high = diverse): H =
    // −Σ c(ab)·ln(c(ab)/c(a·))/N over frequency-preserving bigrams,
    // each term an ln of an exact integer ratio quantized to 1e-9
    // longs → integer sums, engine-exact; perplexity = e^H. One
    // explode + two keyed aggs + a first-token join.
    "corpus_bigram_entropy" -> Query((s, dir) => {
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
    },
      // op 238: the same frequency-preserving width-2 shingles, the
      // same 1e-9-quantized c·ln(c/ca) terms.
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
          |FROM qq GROUP BY source ORDER BY source""".stripMargin),
    // Cross-doc boilerplate shingles (op 221 — template detection,
    // the cross-document sibling of op 76's within-doc repetition):
    // a 5-gram appearing in ≥ 5 DISTINCT docs is boilerplate; each
    // doc reports what fraction of its distinct shingles is
    // boilerplate (Dolma-style duplicate-n-gram fraction). Exact
    // integer ratios; explode + two keyed aggs + one join back —
    // the shingle key is the shuffle key, no all-pairs anywhere.
    "corpus_boilerplate" -> Query((s, dir) => {
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
    },
      // op 221: the WordShingles width-5 truncation convention
      // (toks[i:i+4] over max(len−4, 1) starts), counts all integer.
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
          |FROM per GROUP BY source ORDER BY source""".stripMargin)
  )
}
