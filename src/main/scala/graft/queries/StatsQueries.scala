package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Corpus

/** Distribution drift and group tests over the return series. */
object StatsQueries {

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

  val registry: Seq[(String, Registration)] = Seq(

    // ---- distribution stats
    "stats_quantiles" -> Query((s, dir) =>
      // r14: one array-percentile buffer per group instead of three —
      // identical R-7 values, one sort not three.
      events(s, dir).groupBy(col("event_type"))
        .agg(percentile(col("value"),
          array(lit(0.5), lit(0.95), lit(0.99))).as("_q"))
        .select(col("event_type"),
          round(element_at(col("_q"), 1), 6).as("p50"),
          round(element_at(col("_q"), 2), 6).as("p95"),
          round(element_at(col("_q"), 3), 6).as("p99")),
      """SELECT event_type,
          |  round(quantile_cont(value, 0.5), 6) AS p50,
          |  round(quantile_cont(value, 0.95), 6) AS p95,
          |  round(quantile_cont(value, 0.99), 6) AS p99
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "stats_histogram" -> Query((s, dir) =>
      graft.functions.Stats.histogram(events(s, dir), Seq("event_type"), "value", 50.0)
        .select(col("event_type"), col("bucket"), round(col("bucket_lo"), 2).as("bucket_lo"),
          col("n")),
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket,
          |  round(CAST(floor(value / 50.0) AS BIGINT) * 50.0, 2) AS bucket_lo,
          |  count(*) AS n
          |FROM events GROUP BY event_type, bucket ORDER BY event_type, bucket""".stripMargin),
    // Robust per-group stats (op 116): median / MAD / winsorized mean —
    // quantile bands via per-group window, one agg pass over the same
    // partitioning.
    "stats_robust" -> Query((s, dir) => {
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
    },
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
          |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),
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
    "stats_psi" -> Query((s, dir) => {
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
    },
      // op 320: same fixed bins, exact integer counts, identical
      // (p−q)·ln(p/q) parenthesization per bin.
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
          |FROM s ORDER BY event_type""".stripMargin),
    "stats_ks_test" -> Query((s, dir) => {
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
    },
      // op 225: same global 1e-6 grid, same integer KS numerator,
      // same λ/p-value algebra.
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
          |FROM ll ORDER BY event_type""".stripMargin),
    // Mann–Whitney U rank-sum test (op 240, the op-225 KS's rank
    // sibling — sensitive to location shift where KS reacts to any
    // shape change): each series vs the view benchmark on the
    // pooled 1e-6-quantized grid. Midranks are exact half-integers
    // (sums of integer rank bounds), U and the normal z use the
    // no-tie-correction formula (documented) — every input to the
    // double algebra is an exact integer or half-integer.
    "stats_mann_whitney" -> Query((s, dir) => {
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
    },
      // op 240: same pooled grid, same exact half-integer midranks,
      // same no-tie-correction U/z algebra.
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
          |FROM agg ORDER BY pair_id""".stripMargin),
    // Welch's unequal-variance t-test (op 289; Welch 1947): does each
    // series' mean return differ from the 'view' benchmark's — the
    // parametric companion to op 268's rank-based Mann-Whitney. One
    // groupBy for the per-series moments, then the 1-row benchmark
    // moments broadcast onto the 4 comparison rows; Satterthwaite df.
    // Rejection at the same ±1.96 two-sided literal the trend tests
    // pin.
    "stats_welch_ttest" -> Query((s, dir) => {
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
    },
      // op 289: same (n, Σx, Σx²) moment algebra, same 1.96 literal.
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
          |FROM j ORDER BY event_type""".stripMargin),
    // One-way ANOVA across all series (op 290; Fisher): is there ANY
    // mean-return difference among the 5 series — between/within sum
    // decomposition entirely from per-group (n, Σx, Σx²) partial
    // sums, so the whole test is one map-side-combined groupBy plus a
    // 5-row final fold: SSW = Σ(q_g − s_g²/n_g), SSB = Σs_g²/n_g −
    // (Σs)²/N. Reports F and the effect size η² = SSB/SST.
    "stats_anova" -> Query((s, dir) => {
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
    },
      // op 290: same partial-sum decomposition, single-row output.
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
          |FROM a""".stripMargin),
    // Brown–Forsythe variance-equality test (op 302; Brown/Forsythe
    // 1974, the median-centered robust Levene): one-way ANOVA F on
    // z = |ret − med_g| — do the series differ in DISPERSION (op 290
    // asks about means; mean-centered Levene is outlier-fragile).
    // Per-group medians via the shared R-7 percentile (op 116's
    // engine-parity), then the op-290 partial-sum decomposition on z.
    // Rejection at F(4,∞)'s 95% value 2.3719 (documented literal —
    // exact F df₂ = n−k ≈ ∞ at this n).
    "stats_levene" -> Query((s, dir) => {
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
    },
      // op 302: same R-7 group medians (join-back form), same op-290
      // partial-sum F algebra on the absolute deviations.
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
          |FROM a""".stripMargin),
    // Bartlett's variance-homogeneity test (op 380; Bartlett 1937) —
    // the parametric sibling of op 310's Levene/Brown–Forsythe: k
    // group variances from EXACT integer moments on the 1e-6 grid
    // (n·Σq² − (Σq)² over n(n−1), DECIMAL-exact rationals → one
    // identical double per group), then χ² = ((N−k)·ln s_p² −
    // Σ(nᵢ−1)·ln sᵢ²)/C. The common 1e-12 grid scale cancels inside
    // the ln difference, so the statistic is scale-free. One keyed
    // agg + one k-row agg; ln on identically-derived doubles (the
    // op-155/op-83 log-parity precedent).
    "stats_bartlett" -> Query((s, dir) => {
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
    },
      // op 380: identical exact-moment group variances, the same ln
      // composition and Bartlett C correction.
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
          |FROM t""".stripMargin),
    // Grubbs' max-studentized-deviate outlier test (op 378; Grubbs
    // 1950) per series: G = max|x−x̄|/s from EXACT integer algebra —
    // the per-row deviation |n·q − Σq| is an exact integer, its max
    // an exact integer, and G = maxDev/(n·σ) divides two
    // identically-derived doubles. The equivalent t-statistic τ =
    // √(n(n−2)G²/((n−1)²−nG²)) (the textbook monotone map to a
    // t_{n−2} tail; the CDF evaluation itself stays native-kernel +
    // spec territory, the op-19 convention). Two keyed aggs + one
    // broadcast join.
    "stats_grubbs" -> Query((s, dir) => {
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
    },
      // op 378: the same integer max-deviation and exact-moment σ,
      // the same monotone G→τ map.
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
          |FROM t ORDER BY event_type""".stripMargin),
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
    "stats_theil_sen" -> Query((s, dir) => {
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
    },
      // op 379: the same daily-mean grid, pairwise slopes, exact
      // interpolating median (values, not order).
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
          |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin),
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
    "stats_theil_sen_windowed" -> Query((s, dir) => {
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
    },
      // op 403: same daily means, trailing-14-day window membership
      // via generate_series, per-(series, end day) interpolated
      // median; emitted only for end days present in the data.
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
          |ORDER BY g.event_type, end_day""".stripMargin),
    // CUSUM changepoint locator (op 394; Page 1954 / the Brownian-
    // bridge sup test): per series the row that maximizes
    // |P_t − (t/n)·S_n| over the (ts, event_id) order — computed as
    // the exact integer |n·P_t − t·S_n| so the argmax (first row on
    // ties) is engine-exact — plus the normalized sup statistic
    // D/(σ̂√n) against the 1.358 bridge 95% line. One prefix window,
    // one keyed moment agg, one rank window — all on the hash(type)
    // exchange.
    "stats_changepoint" -> Query((s, dir) => {
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
    },
      // op 394: the same integer |n·P_t − t·S_n| deviation, argmax by
      // (d DESC, rn) — engine-exact; exact-moment σ, identical stat.
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
          |FROM t ORDER BY event_type""".stripMargin),
    // Two-sample Anderson–Darling (op 395; Pettitt 1976 / Scholz &
    // Stephens 1987's tie-adjusted A²akN at k=2): each series vs the
    // view benchmark — the TAIL-sensitive companion of op 225's KS
    // (KS reacts to the biggest CDF gap, AD weights the tails by
    // 1/(F(1−F))). Evaluated on the pooled distinct-value grid in
    // DOUBLED half-integer units so every numerator/denominator is
    // an exact integer (the midrank convention); same dense-grid
    // cumulative machinery as op 225.
    "stats_ad_2sample" -> Query((s, dir) => {
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
    },
      // op 395: the op-225 dense-grid cumulatives in doubled units,
      // the same exact-integer A²akN terms.
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
          |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Mood's median test (op 387; Mood 1950) — the coarsest, most
    // outlier-proof k-sample location test (sits under op 297's
    // Kruskal in power, above it in robustness): counts above vs ≤
    // the GRAND median per series, 2×k chi-square on exact integer
    // counts against row/column-proportional expecteds. The grand
    // median interpolates the pooled quantized grid (value-based —
    // order-free); one global 1-row agg broadcast + one keyed agg +
    // one k-row agg.
    "stats_mood_median" -> Query((s, dir) => {
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
    },
      // op 387: grand interpolated median, 2×k counts, the Σ O²/E − N
      // identity.
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
          |FROM f""".stripMargin),
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
    "stats_kruskal" -> Query((s, dir) => {
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
    },
      // op 297: global-window midranks on the same integer grid (the
      // oracle may rank globally; the Spark side two-levels it), the
      // identical H and tie-correction algebra.
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
          |FROM a CROSS JOIN tt""".stripMargin),
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
    "stats_dunn" -> Query((s, dir) => {
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
    },
      // op 353: the op-297 global-midrank CTEs + the k² pair join,
      // identical S² and z algebra.
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
          |FROM z ORDER BY g1, g2""".stripMargin),
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
    "stats_friedman" -> Query((s, dir) => {
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
    },
      // op 340: identical midrank-doubling (d = 2·rank + peers − 1 via
      // the RANGE-peers frame), exact decimal moments, identical Q
      // algebra on identical integers.
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
          |FROM a""".stripMargin),
    // Page trend test (op 359; Page 1963) — op 340's ORDERED
    // alternative: is there a monotone trend across the treatments in
    // their documented (alphabetical) order, which the omnibus can't
    // distinguish from any other departure. L = Σ_j c_j·R̄-sums on the
    // shared doubled midranks (L2 = Σ c_j·D_j exact integer, L =
    // L2/2); tie-naive normal approximation (classical Page): μ_L =
    // n·k(k+1)²/4, σ²_L = n·k²(k+1)²(k−1)/144, two-sided 1.96.
    "stats_page_trend" -> Query((s, dir) => {
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
    },
      // op 359: the op-340 block-midrank CTEs + the alphabetical-
      // position self-join, identical L/μ/σ algebra.
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
          |FROM z""".stripMargin),
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
    "stats_jonckheere" -> Query((s, dir) => {
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
    },
      // op 363: same probe grid, per-group cumulative, pair join, and
      // tie-naive normal algebra.
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
          |FROM z""".stripMargin),
    // Cochran's Q (op 347; Cochran 1950) — op 340's BINARY sibling:
    // success = positive quantized return per (series, date block);
    // the identity k(k−1)Σ(C_j − N/k)² = (k−1)(kΣC_j² − N²) keeps Q
    // all-integer until one final division — Q = (k−1)(kΣC_j² − N²) /
    // (kN − ΣR_b²), decimals against the n² growth; complete blocks
    // only (the op-340 gate), χ²(4) 95% literal.
    "stats_cochran_q" -> Query((s, dir) => {
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
    },
      // op 347: identical all-integer Q identity, decimal moments.
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
          |FROM a""".stripMargin),
    // Chi-square independence test (op 241): source × lang
    // contingency on documents — "is language mix independent of
    // source" (the mixture-drift alarm). Expected counts are exact
    // integer ratios, each (o−e)²/e cell term quantizes to 1e-9
    // longs so the cell sum is an exact integer; χ² and dof
    // reported (the p-value needs the incomplete gamma — out of
    // replayable-SQL scope, documented).
    "stats_chi2_independence" -> Query((s, dir) =>
      chi2Report(tbl(s, dir, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))),
      // op 241: exact integer-ratio expected counts, 1e-9-quantized
      // cell terms.
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
          |FROM t""".stripMargin),
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
    "stats_bh_fdr" -> Query((s, dir) => {
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
    },
      // op 329: the op-271 moment CTEs, the closed χ²(2) p, and the
      // same windowless rank/suffix-min self-join algebra.
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
          |GROUP BY 1, 2, 3 ORDER BY rk.rnk""".stripMargin),
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
    "stats_permutation" -> Query((s, dir) => {
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
    },
      // op 328: same md5 coin per (b, event_id); the extremeness
      // compare replays the exact cross-multiplied HUGEINT form.
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
          |FROM e CROSS JOIN o""".stripMargin),
    // Cramér's V effect size (op 324): the chi² family's missing
    // MAGNITUDE — independence tests reject everything at corpus n,
    // so mixture-drift alarms need V = sqrt(χ²/(n·min(r−1,c−1))) to
    // say whether the source×lang association MATTERS. Same 1e-9-
    // quantized cell statistic as op 241 (χ² is an exact long on both
    // engines), then one sqrt on identical integers; thresholds at
    // the conventional 0.1/0.3/0.5 grades.
    "stats_cramers_v" -> Query((s, dir) => {
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
    },
      // op 324: same quantized χ² long, V and its grade from
      // identical integers.
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
          |FROM agg""".stripMargin)
  )
}
