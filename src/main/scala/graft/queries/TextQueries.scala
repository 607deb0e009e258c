package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Pii, Text}
import graft.operators.{Corpus, PageRank}

/** Text analysis over the documents table. */
object TextQueries {

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

  val registry: Seq[(String, Registration)] = Seq(
    // ---- text analysis (ops 53-56)
    "text_token_count" -> Query((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("ws_tokens"),
        Text.bpeTokenCount(col("text")).cast("long").as("bpe_tokens")),
      s"""SELECT doc_id,
          |  len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
          |  len(regexp_extract_all(text, '${Text.BpePattern}')) AS bpe_tokens
          |FROM documents""".stripMargin),
    "text_quality" -> Query((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        round(Text.qualityScore(col("text")), 6).as("quality")),
      s"""WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
          |SELECT doc_id, round(
          |  0.4 * least(length(text) / 200.0, 1.0) +
          |  0.4 * (len(list_filter(toks, x -> $stopCond)) / greatest(len(toks), 1)) +
          |  0.2 * (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / greatest(len(toks), 1), 1.0)), 6) AS quality
          |FROM t""".stripMargin),
    // Flesch reading ease + Flesch–Kincaid grade (op 276; Flesch
    // 1948/Kincaid 1975): the classic readability pair over exact
    // integer counts — words = latin-letter runs, sentences =
    // terminator runs (min 1), syllables = vowel-group runs (the
    // standard dictionary-free heuristic). The patterns are
    // character classes only, so Java regex and RE2 agree; the two
    // scores are identical-parenthesization algebra on exact
    // integers. Map-only, whole-stage codegen, no shuffle.
    "text_readability" -> Query((s, dir) =>
      readabilityScores(tbl(s, dir, "documents")),
      // op 276: same character-class counts, same score algebra.
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
          |FROM t WHERE w > 0""".stripMargin),
    // Type-token ratio + Simpson diversity per source (op 278): the
    // lexical-diversity pair behind repetition filters — TTR = V/N
    // (distinct over total tokens) and Simpson's D = Σc(c−1)/(N(N−1))
    // (the probability two random tokens coincide; high = templated
    // text). All exact integer counts: explode → per-(source, token)
    // hash agg with map-side combine → one tiny per-source agg — the
    // same two-level shape every corpus frequency op here uses, no
    // distinct-shuffle (V counted in pass two).
    "text_ttr" -> Query((s, dir) => {
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
    },
      // op 278: same exact integer token counts.
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
          |FROM a ORDER BY source""".stripMargin),
    // Character entropy (op 206, the compressibility proxy): Shannon
    // H = ln n − Σc·ln c / n over per-doc character counts — templated
    // or repeated text scores low, the quality signal compression-
    // based filters approximate. Per-char terms c·ln c quantize to
    // 1e-9 longs (integer sums; a term flip moves H by ~1e-11, far
    // under the 1e-6 output grid); explode → two keyed hash aggs.
    "text_char_entropy" -> Query((s, dir) =>
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
            * 1e6 + 0.5) / 1e6).as("entropy")),
      // op 206: same per-char integer counts, same 1e-9-quantized
      // c·ln c terms, same floor-q6 entropy.
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
          |FROM a""".stripMargin),
    // Top bigrams by PMI (op 207; Church & Hanks 1990): pointwise
    // mutual information ln((B/N_b)·(N_u/U_x)·(N_u/U_y)) over corpus
    // bigram/unigram counts, min count 5, top 20 by (PMI, bigram) —
    // collocation mining, the classic phrase detector (word2vec's
    // phrase pass is this formula with a discount). All counts are
    // integers; PMI is one ln of an exact-integer-ratio product with
    // IDENTICAL parenthesization in the oracle; two keyed joins of
    // the bigram relation against the unigram counts.
    "text_pmi_bigrams" -> Query((s, dir) => {
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
    },
      // op 207: identical integer counts and the identically
      // parenthesized PMI product; ordered by the ROUNDED pmi so the
      // limit-20 selection matches the Spark query's total order.
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
          |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin),
    // TextRank keywords (op 326; Mihalcea/Tarau 2004 — the op-317
    // integer PageRank, graft.operators.PageRank.integerRank, on the
    // WORD graph): corpus-level keyword extraction for tagging/topic
    // routing. Nodes are tokens, edges the undirected adjacent-token
    // co-occurrences (self-loops dropped), contributions weighted by
    // edge count over node strength; the 3 iterations replay
    // bit-for-bit on any engine (the oracle unrolls them). Every stage is a
    // keyed agg on the token key; the graph is vocabulary-sized, not
    // corpus-sized, so at 100 TB this costs one token-bigram pass +
    // iterations over a relation ~|vocab|.
    "text_textrank" -> Query((s, dir) => {
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
      PageRank.integerRank(
          strength.select(col("src").as("node")), edges.join(strength, "src"))
        .orderBy(col("rq").desc, col("node")).limit(20)
        .select(col("node").as("word"),
          (col("rq").cast("double") / 1e9).as("textrank"))
    },
      // op 326: the op-317 integer-PageRank replay on the word graph —
      // same // floor division, 3 unrolled MATERIALIZED rounds.
      {
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
      }),
    "text_lang_id" -> Query((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Text.langId(col("text")).as("lang_pred")),
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
          |sc AS (SELECT doc_id, $langScores FROM t)
          |SELECT doc_id, CASE $langCase ELSE 'unknown' END AS lang_pred FROM sc""".stripMargin),
    "text_fingerprint" -> Query((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Text.fingerprint(col("text")).as("fingerprint")),
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
          |SELECT doc_id, list_min(list_transform(range(1, greatest(len(toks)-4, 1) + 1),
          |  i -> md5(array_to_string(toks[i:i+4], ' ')))) AS fingerprint
          |FROM t""".stripMargin),
    // Normalization must do real work on the synthetic (already-clean)
    // docs, so the query first injects deterministic whitespace/control
    // noise (space → space, C0 0x01, two spaces), then asserts the cleanup via
    // lengths + digest of the cleaned text.
    "text_normalize" -> Query((s, dir) => {
      val messy = regexp_replace(col("text"), " ", "   ")
      tbl(s, dir, "documents")
        .select(col("doc_id"), messy.as("messy"))
        .select(col("doc_id"),
          length(col("messy")).cast("long").as("raw_len"),
          length(Text.normalize(col("messy"))).cast("long").as("clean_len"),
          md5(Text.normalize(col("messy"))).as("clean_digest"))
    },
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
          |FROM c""".stripMargin),

    // ---- corpus curation (ops 76-79): repetition quality, stratified
    // sampling, contamination, packing — all md5-deterministic
    "text_repetition" -> Query((s, dir) =>
      Corpus.repetitionStats(tbl(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"),
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
          |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
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
    "text_code_detection" -> Query((s, dir) => {
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
    },
      // op 396: same character-class strips ('g' flag — DuckDB
      // replaces first match by default), same token keyword list.
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
          |FROM t ORDER BY doc_id""".stripMargin),
    // Term burstiness (op 382; Church & Gale 1995): contagious terms
    // (names, topics) concentrate in few docs — variance-to-mean
    // ratio of per-doc counts WITH zeros ≫ 1 — while function words
    // sit Poisson-flat near 1. VMR over all N docs from exact
    // integers only: (N·Σc² − (Σc)²)/(N·Σc); the containing-doc mean
    // Σc/df likewise. Token explode → two keyed aggs (both map-side
    // combinable) + a 1-row broadcast; the report is
    // TakeOrderedAndProject's top-50 by burden (no global sort at
    // scale).
    "text_term_burstiness" -> Query((s, dir) => {
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
    },
      // op 382: identical integer VMR algebra, the same top-50 by
      // (total desc, term) cut.
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
          |ORDER BY total DESC, term LIMIT 50""".stripMargin),
    "text_zipf" -> Query((s, dir) => {
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
    },
      """WITH tk AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
          |f AS (SELECT source, tok, count(*) AS cnt FROM tk GROUP BY 1, 2),
          |r AS (SELECT source, tok, cnt,
          |  row_number() OVER (PARTITION BY source ORDER BY cnt DESC, tok) AS rnk
          |  FROM f)
          |SELECT source,
          |  round(regr_slope(ln(cnt), ln(rnk)), 6) + 0.0 AS zipf_slope,
          |  round(corr(ln(cnt), ln(rnk)), 6) + 0.0 AS zipf_r,
          |  count(*) AS n_types
          |FROM r WHERE rnk <= 30 GROUP BY source ORDER BY source""".stripMargin),
    "text_top_ngrams" -> Query((s, dir) => {
      val g = tbl(s, dir, "documents")
        .select(col("lang"), explode(Text.ngrams(col("text"), 2)).as("ng"))
        .groupBy(col("lang"), col("ng")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("ng"))
      g.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 5)
        .select(col("lang"), col("rnk"), col("ng"), col("n"))
    },
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
          |SELECT lang, rnk, ng, n FROM r WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin),

    // ---- PII detection/redaction (op 82) and unigram-LM quality
    // scoring (op 83)
    "text_pii_stats" -> Query((s, dir) =>
      contactCards(s, dir).select(col("c_custkey"),
        Pii.emailCount(col("text")).cast("long").as("n_email"),
        Pii.phoneCount(col("text")).cast("long").as("n_phone"),
        Pii.ipv4Count(col("text")).cast("long").as("n_ipv4"),
        Pii.hasPii(col("text")).as("has_pii")),
      s"""WITH $CONTACT_CTE
          |SELECT c_custkey,
          |  len(regexp_extract_all(text, '${Pii.EmailPattern}')) AS n_email,
          |  len(regexp_extract_all(text, '${Pii.PhonePattern}')) AS n_phone,
          |  len(regexp_extract_all(text, '${Pii.Ipv4Pattern}')) AS n_ipv4,
          |  len(regexp_extract_all(text, '${Pii.EmailPattern}'))
          |    + len(regexp_extract_all(text, '${Pii.PhonePattern}'))
          |    + len(regexp_extract_all(text, '${Pii.Ipv4Pattern}')) > 0 AS has_pii
          |FROM contact""".stripMargin),
    "text_pii_redact" -> Query((s, dir) =>
      contactCards(s, dir).select(col("c_custkey"),
        Pii.redact(col("text")).as("redacted")),
      s"""WITH $CONTACT_CTE
          |SELECT c_custkey,
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(text, '${Pii.EmailPattern}', '[EMAIL]', 'g'),
          |      '${Pii.Ipv4Pattern}', '[IP]', 'g'),
          |    '${Pii.PhonePattern}', '[PHONE]', 'g') AS redacted
          |FROM contact""".stripMargin),
    // ---- TF-IDF keywords (op 91), DSIR importance weights (op 92),
    // Bloom-filter decontamination pre-filter (op 93)
    "text_tfidf" -> Query((s, dir) =>
      Corpus.tfIdfTopTerms(tbl(s, dir, "documents"), "doc_id", "text",
          topK = 3)
        .select(col("id").as("doc_id"), col("rnk"), col("term"),
          col("tfidf")),
      // TF-IDF: tf · ln(N/df) quantized to 1e-6 longs BEFORE ranking
      // (ties → term asc) — same association as Corpus.tfIdfTopTerms.
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
          "ORDER BY doc_id, rnk")),
    // Tokenizer fertility per language (op 219): BPE-ish tokens per
    // whitespace word and per 100 chars, per declared language — the
    // multilingual-budget planner's constant (fertility decides how
    // many DOCS a token budget buys per language). All-integer sums
    // → exact ratios; one map + one keyed agg, map-side combinable.
    "text_fertility" -> Query((s, dir) =>
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
            .as("tokens_per_100chars")),
      // op 219: the text_token_count kernels summed per declared
      // language — all-integer sums, exact ratios.
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
          |FROM t GROUP BY lang ORDER BY lang""".stripMargin)
  )
}
