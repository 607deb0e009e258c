package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Corpus, Sketch}

/** Mergeable sketches: HyperLogLog, Count-Min, KMV, quantiles, Bloom. */
object SketchQueries {

    // Same 8-hex-digit slice over a column that is ALREADY a digest
    // (md5IntAt would double-hash it).
  private def hexIntAt(c: String, startExpr: String) = (0 to 7).map(j =>
      s"(strpos('0123456789abcdef', substr($c, ($startExpr) + $j, 1)) - 1) * ${math.pow(16, 7 - j).toLong}"
    ).mkString("(", " + ", ")")

  val registry: Seq[(String, Registration)] = Seq(
    // op 393: the op-93 filter's measured-vs-theoretical FPR — every
    // probe gram is a false positive by length-disjoint construction.
    "sketch_bloom_fpr" -> Query((s, dir) =>
      Corpus.bloomFpr(tbl(s, dir, "documents"), "text"),
      // op 393: the op-93 bit construction over the PLAIN documents
      // table, probed by the same 'nq_'-prefixed synthetic grams.
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
          "FROM agg CROSS JOIN ni CROSS JOIN nb")),
    // HLL distinct-token sketch per source + the max-merged __ALL__ row
    // (SURVEY §2 op 118) — the mergeability demo: the global row comes
    // from the per-source register tables, NOT from rescanning tokens.
    // exact_distinct rides along for the error story.
    "sketch_hll" -> Query((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      hllReport(s, dir, Sketch.hllRegisters(toks, Seq("source"), "tok", m = 256))
    },
      // HLL registers replayed exactly: reg = first md5 word mod 256,
      // rank = 1 + leading zeros of the second word (via bin length);
      // the __ALL__ row max-merges the per-source register tables.
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
          "FROM est JOIN ex USING (source) ORDER BY source")),
    // Count-Min heavy hitters over the document tokens (op 119):
    // fixed 4×1024 counter table, estimate = min over hash rows,
    // global top-20 via TakeOrdered (no single-partition window).
    "sketch_cms_topk" -> Query((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
      Sketch.cmsTopK(toks, "tok", depth = 4, width = 1024, topK = 20)
        .select(col("v").as("token"), col("est_cnt"), col("exact_cnt"))
    },
      // Count-Min probe: counter = count at (j, h_j(tok)), estimate =
      // min over the 4 hash rows, global top-20 (est desc, token).
      ("WITH tk AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents), " +
          "ex AS (SELECT tok, count(*) AS exact_cnt FROM tk GROUP BY tok), " +
          s"cnts AS (SELECT j.range AS j, ${md5IntAt("(j.range || ':' || tok)", "1")} % 1024 AS pos, " +
          "count(*) AS cnt FROM tk CROSS JOIN range(0, 4) j GROUP BY 1, 2), " +
          s"pr AS (SELECT tok, exact_cnt, j.range AS j, ${md5IntAt("(j.range || ':' || tok)", "1")} % 1024 AS pos " +
          "FROM ex CROSS JOIN range(0, 4) j), " +
          "est AS (SELECT tok, exact_cnt, min(cnt) AS est_cnt FROM pr JOIN cnts USING (j, pos) GROUP BY tok, exact_cnt) " +
          "SELECT tok AS token, est_cnt, exact_cnt FROM est ORDER BY est_cnt DESC, token LIMIT 20")),
    // HLL set algebra (op 125): pairwise source-overlap estimates by
    // register algebra alone — |A∪B| from max-merged registers (no
    // rescan), |A∩B| by inclusion-exclusion. Exact intersections ride
    // along for the error story.
    "sketch_hll_overlap" -> Query((s, dir) => {
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
    },
      // HLL overlap: same register CTEs; per-pair union registers by
      // max-merge, inclusion-exclusion for the intersect estimate.
      {
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
      }),
    // KMV bottom-k distinct sketch (op 129): per-source estimates
    // plus the lossless __ALL__ merge — the bottom-k of the union of
    // SKETCHES (KBs), never a corpus rescan. Exact distincts ride
    // along for the error story, as in sketch_hll.
    "sketch_kmv" -> Query((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      kmvReport(s, dir,
        Sketch.kmvSketch(toks, Seq("source"), "tok", k = 64))
    },
      // KMV bottom-k replayed exactly: the k smallest distinct md5
      // words per source; one global window here equals the engine's
      // lossless two-level (bucket, then group) cut. __ALL__ =
      // bottom-k of the union of sketches.
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
          "FROM est JOIN ex USING (source) ORDER BY source")),
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
    "sketch_f2" -> Query((s, dir) => {
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
    },
      // AMS F2: identical md5 first-nibble sign, identical integer
      // sums; exact F2 rides along. CASTs pin BIGINT (DuckDB sums
      // promote to HUGEINT, which serializes differently).
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
          |FROM ex, e""".stripMargin),
    // op 141: histogram quantile sketch — per-type value quantiles plus
    // the __ALL__ row merged FROM THE SKETCHES (sum of bins, no corpus
    // rescan: the rollup property). Dyadic width (512/128 = 4.0) makes
    // the bin arithmetic exact in IEEE doubles on both engines.
    "sketch_quantiles" -> Query((s, dir) => {
      histQuantileReport(Sketch.histSketch(events(s, dir),
        Seq("event_type"), "value", lo = 0.0, hi = 512.0, nBins = 128))
    },
      // Histogram quantile sketch: identical integer bin counts, the
      // __ALL__ row merged by summing bins, bin-midpoint estimates.
      // q and n are forced to DOUBLE before the rank product so both
      // engines compute the same IEEE floor(q*n).
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
          |FROM t ORDER BY event_type, q""".stripMargin),
    // KMV Jaccard (op 130): pairwise source similarity from the
    // sketches ALONE — the bottom-k of two sketches' union is a
    // uniform sample of A∪B, so the both-present fraction estimates
    // |A∩B|/|A∪B| directly (what HLL needs inclusion-exclusion and
    // 3× the error for). Exact Jaccard rides along.
    "sketch_kmv_jaccard" -> Query((s, dir) => {
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
    },
      // KMV Jaccard: bottom-k of each pair's sketch-hash union with
      // per-side presence flags; estimate = both-present fraction.
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
          "ORDER BY source_a, source_b"))
  )
}
