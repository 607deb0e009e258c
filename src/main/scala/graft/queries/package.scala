package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Eod, Text}
import graft.operators.{Similarity, Sketch}
import graft.sim.MarketSim

/** The query registry: one object per family (the name prefix), each
  * registering every query once with its DataFrame builder and its
  * DuckDB oracle side by side ([[Query]], or a [[Twin]] for a streaming
  * replay checked by a batch query's oracle). [[Registry]] assembles the
  * families into `SparkEntry.queries` and `SparkEntry.oracleSql`. This
  * package object holds the helpers more than one family uses; a helper
  * one family uses lives in that family.
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
package object queries {

  /** A query's DataFrame builder: (session, testdata dir) => result. */
  type Build = (SparkSession, String) => DataFrame

  private[queries] def events(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(s, dir, "events")

  /** floor(x·1e6 + 0.5)/1e6, NOT round(x, 6), for doubles derived from
    * exact integer sums: those make ties at the 6th decimal EXACT (e.g.
    * sum_q/n landing on …5), where Spark's HALF_UP and DuckDB's
    * half-even disagree; floor+0.5 is the same deterministic function of
    * the same double on both engines.
    */
  private[queries] def q6(c: Column): Column = floor(c * 1e6 + lit(0.5)) / 1e6
  private[queries] def tbl(s: SparkSession, dir: String, name: String): DataFrame =
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
  private[queries] def annPlanes(s: SparkSession): Int =
    s.conf.getOption("graft.ann.planes").map(_.toInt).getOrElse(4)

  /** Per-asset ordered window: the one shuffle all series ops share. */
  private[queries] val wT = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))

  /** Synthetic deterministic columns shared by Spark and oracle SQL. */
  private[queries] val volume = (col("event_id") % 100 + 1).cast("double")         // tick volume
  private[queries] val stablePrice = lit(100.0) + (col("event_id") % 21 - 10) / 10.0 // bounded price

  /** Range-volatility constants (op 184), inlined into the oracle SQL
    * as round-trip double literals so both engines divide by the SAME
    * double (the scalar-constant convention in the header).
    */
  private[queries] val FourLn2 = 4.0 * math.log(2.0)        // 2.772588722239781

  private[queries] val PiOver2 = math.Pi / 2.0              // 1.5707963267948966

  private[queries] val SQL_STABLE = "(100.0 + (event_id % 21 - 10) / 10.0)"

  /** SQL twin of [[Corpus.md5Uniform]]'s 32-bit word over an arbitrary
    * SQL string expression: first 8 hex chars of md5(<c>) as an
    * integer via strpos arithmetic (engine-neutral base-16 decode).
    */
  private[queries] def md5Word8Sql(c: String): String = (1 to 8).map(j =>
    s"(strpos('0123456789abcdef', substr(md5($c), $j, 1)) - 1) * ${math.pow(16, 8 - j).toLong}"
  ).mkString("(", " + ", ")")

  /** returns CTE shared by many oracles. */
  private[queries] val R_CTE =
    """WITH r AS (
      |  SELECT event_type, event_id, ts, value,
      |         value / lag(value) OVER w - 1 AS ret
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
      |)""".stripMargin

  private[queries] def withRet(s: SparkSession, dir: String): DataFrame =
    events(s, dir).withColumn("ret", Eod.toReturns(col("value"), wT))

  /** Documents corpus with deterministic planted duplicates so dedup
    * queries have real positives: exact copies (id+2e6, doc_id%97==0)
    * and near copies with one appended token (id+1e6, doc_id%50==0).
    * Identical construction in the oracle CTE.
    */
  private[queries] def docCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionAll(d.where(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" the")).as("text")))
      .unionAll(d.where(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
  }

  /** op-385's AND-composed 2-of-4 band candidate pairs over the
    * dHash band relation — shared by mm_phash_dedup (which verifies
    * candidates with the exact Hamming cut) and dedup_eval_phash
    * (which grades the RAW candidate set, before verification,
    * against exact ground truth). */
  private[queries] def dHashCandPairs(hb: DataFrame): DataFrame = {
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
  private[queries] def readabilityScores(docs: DataFrame): DataFrame = {
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

  private[queries] val CORPUS_CTE =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' the' FROM documents WHERE doc_id % 50 = 0
      |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 97 = 0
      |)""".stripMargin

  /** The dHash chain shared by the mm_phash_dedup and
    * dedup_eval_phash oracles: synthetic image bytes → 9×8 dHash
    * bits → four 16-bit bands (`bands`/`hv`) → the 2-of-4
    * AND-composed band candidate pairs (`cand`). */
  private[queries] val PHASH_CTE =
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
  private[queries] val EmbDim = 64

  /** toks CTE over corpus (whitespace tokenization, shared convention). */
  private[queries] val TOKS_CTE =
    s"""WITH $CORPUS_CTE, t AS (
      |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM corpus
      |)""".stripMargin

  /** Shared tail of the HLL queries (ops 118/123): per-source + merged
    * __ALL__ estimates from a register table, exact distincts joined
    * in for the error story.
    */
  private[queries] def hllReport(s: SparkSession, dir: String,
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

  /** Shared tail of the quantile-sketch queries (ops 141/142): the
    * per-type + `__ALL__`-merged quantile report over a
    * (event_type, bin, cnt) histogram table — the merge sums BINS,
    * never rescanning the corpus.
    */
  private[queries] def histQuantileReport(sk0: DataFrame): DataFrame = {
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
  private[queries] def kmvReport(s: SparkSession, dir: String,
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

  /** CTE chain replaying Pq.encode over the ANN corpus (vec_id >= 5,
    * k=16 codes, m=8 subspaces of 8 dims): v, seed, cb, enc — same
    * seed rule (k lowest ids), same argmin (|c_s|² − 2·x_s·c_s, ties
    * → lowest cid). Plain concatenation — no stripMargin.
    */
  private[queries] val PQ_CTES: String =
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
  private[queries] def kmeansCtes(vSrc: String, k: Int, iters: Int): String = {
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

    // First/second 32-bit words of md5(s) as integers (nibble-built) —
    // the affine minhash family h_i = (a + i*b) % 2^32 (Dedup.scala).
  private[queries] def md5Word(off: Int) = (1 to 8).map(j =>
      s"(strpos('0123456789abcdef', substr(h, ${off + j}, 1)) - 1) * ${math.pow(16, 8 - j).toLong}"
    ).mkString("(", " + ", ")")

    // 32-bit word of md5(<c>) starting at 1-based hex offset
    // <startExpr> (any SQL expression) — the dynamic-slice variant of
    // md5Word for the k-slice Bloom positions.
  private[queries] def md5IntAt(c: String, startExpr: String) = (0 to 7).map(j =>
      s"(strpos('0123456789abcdef', substr(md5($c), ($startExpr) + $j, 1)) - 1) * ${math.pow(16, 7 - j).toLong}"
    ).mkString("(", " + ", ")")

  private[queries] val sigMins = (0 until 8).map(i =>
      s"min((a + $i * b) % 4294967296) AS sig_$i").mkString(", ")

    // LSH hyperplanes as literal DOUBLE lists (same round-trip literals
    // Similarity.lshBucket inlines into the Spark plan).
  private[queries] def planeLit(p: Int) = (0 until EmbDim)
      .map(d => java.lang.Double.toString(Similarity.planeComponent(p, d)))
      .mkString("[", ", ", "]")

  private[queries] def lshBucketSqlAt(v: String, offset: Int, planes: Int) = (0 until planes).map(j =>
      s"(CASE WHEN list_dot_product($v, ${planeLit(offset + j)}) >= 0 THEN ${1 << j} ELSE 0 END)"
    ).mkString(" + ")

    // Shared kNN-graph edge CTEs (ops 150/317/341): 2-table sign-LSH
    // buckets, hot-bucket cap, per-query top-3 by cosine → directed
    // edge list g(src, dst). Identical to the Spark Similarity.knnGraph
    // constants the driver validates at.
  private[queries] val KNN_EDGE_CTES =
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

    // First md5 word of hex column `c` as an integer (MarketSim.u).
  private[queries] def w8(c: String) = (1 to 8).map(j =>
      s"(strpos('0123456789abcdef', substr($c, $j, 1)) - 1) * ${math.pow(16, 8 - j).toLong}"
    ).mkString("(", " + ", ")")

    // Weighted exchange draw (MarketSim.weightedExchange): inverse-CDF
    // over the RAW scanLeft cumulative doubles — Double.toString round-
    // trips them so both engines run the identical IEEE compares.
  private[queries] def exCaseSql(uCol: String): String = {
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
  private[queries] def quotesCteFor(tickers: Seq[String], days: Int, tpd: Int): String = {
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

  private[queries] val QUOTES_CTE = quotesCteFor(Seq("SIM"), 2, 5000)

  private[queries] val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, sig_${2 * b}::VARCHAR || '|' || sig_${2 * b + 1}::VARCHAR AS bucket FROM sig"
    ).mkString(" UNION ALL ")

  private[queries] val stopCond = Text.Stopwords.map(w => s"x = '$w'").mkString(" OR ")

  private[queries] val langScores = Text.LangMarkers.map { case (l, ws) =>
      s"len(list_filter(toks, x -> ${ws.map(w => s"x = '$w'").mkString(" OR ")})) AS s_$l"
    }.mkString(", ")

    // Shared CTE chain ending in bands(doc_id, band, bucket) — the
    // front half of both the all-pairs and the incremental oracles.
  private[queries] val minhashBandsCte =
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

    // Shared by the batch op (dedup_incremental) and its stream-static
    // twin (streaming_dedup_incremental): same index, same new batch,
    // same verdicts.
  private[queries] val minhashIncrementalSql =
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

  private[queries] val langBest = "greatest(" + Text.LangMarkers.map("s_" + _._1).mkString(", ") + ")"

  private[queries] val langCase = Text.LangMarkers.map { case (l, _) =>
      s"WHEN s_$l > 0 AND s_$l = $langBest THEN '$l'"
    }.mkString(" ")

}
