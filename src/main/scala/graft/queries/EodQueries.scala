package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{denseGrid, dot, gridEntry, let, safeDiv, SMAX, Eod, Graft, Tick}
import graft.operators.Drawdown

/** EOD portfolio statistics over the `events` price series: returns,
  * risk and performance ratios, rolling windows, the k×k solvers,
  * attribution and the econometric tests (SURVEY §2). */
object EodQueries {

  private val smallRet = (col("event_id") % 7 - 3) / 1000.0               // bounded returns
  private val annRet = col("value") / 100000.0                            // small annual ret

  private val SQL_SMALLRET = "((event_id % 7 - 3) / 1000.0)"
  private val SQL_ANNRET = "(value / 100000.0)"

  /** Deannualized rf constant, inlined into SQL as a round-trip literal. */
  private val RF = 0.05
  private val NP = 252
  private val rfPeriodic: Double = math.pow(1.0 + RF, 1.0 / NP) - 1.0
  private val RF_LIT: String = java.lang.Double.toString(rfPeriodic)

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

  val registry: Seq[(String, Registration)] = Seq(
    // ---- EOD series (SURVEY §2 ops 1,2,7,8,12,6,20,21)
    "eod_returns" -> Query((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.toReturns(col("value"), wT), 6).as("ret")),
      """SELECT event_type, event_id,
        |  round(value / lag(value) OVER w - 1, 6) AS ret
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin),
    "eod_log_returns" -> Query((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.toLogReturns(col("value"), wT), 6).as("log_ret")),
      // ln guarded: Spark log(x<=0) yields NULL, DuckDB ln(0) ERRORS —
      // sf0.1 contains zero prices, so the oracle must null out like Spark
      """SELECT event_type, event_id,
        |  round(CASE WHEN value / lag(value) OVER w > 0
        |        THEN ln(value / lag(value) OVER w) END, 6) AS log_ret
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin),
    "eod_price_index" -> Query((s, dir) =>
      events(s, dir).withColumn("sret", smallRet)
        .select(col("event_type"), col("event_id"),
          round(Eod.toPriceIndex(col("sret"), wT), 4).as("price_index")),
      s"""SELECT event_type, event_id,
        |  round(exp(sum(ln(1 + coalesce($SQL_SMALLRET, 0))) OVER (
        |    PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100, 4) AS price_index
        |FROM events""".stripMargin),
    "eod_rebase" -> Query((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.rebase(col("value"), wT), 6).as("rebased")),
      """SELECT event_type, event_id,
        |  round(value / first_value(value) OVER (
        |    PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100, 6) AS rebased
        |FROM events""".stripMargin),
    "eod_drawdown" -> Query((s, dir) =>
      withDd(s, dir).select(col("event_type"), col("event_id"),
        round(col("dd"), 6).as("drawdown")),
      s"$DD_CTE SELECT event_type, event_id, round(dd, 6) AS drawdown FROM d"),
    "eod_excess_returns" -> Query((s, dir) =>
      withRet(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.toExcessReturns(col("ret"), RF, NP), 6).as("excess")),
      s"$R_CTE SELECT event_type, event_id, round(ret - $RF_LIT, 6) AS excess FROM r"),
    "eod_deannualize" -> Query((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.deannualize(col("value") / 100.0, NP), 6).as("deannualized")),
      """SELECT event_type, event_id,
        |  round(pow(value / 100.0 + 1.0, 1.0 / 252) - 1.0, 6) AS deannualized
        |FROM events""".stripMargin),
    "eod_annualize" -> Query((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Eod.annualize(annRet, (col("event_id") % 30 + 1).cast("double")), 6)
          .as("annualized")),
      s"""SELECT event_type, event_id,
        |  round(pow($SQL_ANNRET + 1.0, 365.0 / ((event_id % 30 + 1)::DOUBLE)) - 1.0, 6) AS annualized
        |FROM events""".stripMargin),

    // ---- EOD aggregates (ops 3,4,5,9,10,11,13,14,15,16,17,18,22,23,24)
    "eod_total_return" -> Query((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.totalReturn(col("value"), col("ts")), 6).as("total_return")),
      """SELECT event_type,
        |  round(arg_max(value, ts) / arg_min(value, ts) - 1, 6) AS total_return
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_cagr" -> Query((s, dir) =>
      events(s, dir).withColumn("p", stablePrice).groupBy(col("event_type"))
        .agg(round(Eod.cagr(col("p"), col("ts")), 6).as("cagr")),
      s"""SELECT event_type,
        |  round(pow(arg_max($SQL_STABLE, ts) / arg_min($SQL_STABLE, ts),
        |    1.0 / ((epoch_us(max(ts)) - epoch_us(min(ts))) / (1e6 * 31557600.0))) - 1, 6) AS cagr
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_year_frac" -> Query((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.yearFrac(col("ts")), 6).as("year_frac")),
      """SELECT event_type,
        |  round((epoch_us(max(ts)) - epoch_us(min(ts))) / (1e6 * 31557600.0), 6) AS year_frac
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_mtd" -> Query((s, dir) =>
      events(s, dir)
        .withColumn("max_ts", max(col("ts")).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(round(Eod.mtd(col("value"), col("ts"), col("max_ts")), 6).as("mtd")),
      """WITH e AS (SELECT *, max(ts) OVER (PARTITION BY event_type) AS max_ts FROM events)
        |SELECT event_type,
        |  round(arg_max(value, ts) / arg_max(
        |    CASE WHEN month(ts) != month(max_ts) OR year(ts) != year(max_ts) THEN value END,
        |    CASE WHEN month(ts) != month(max_ts) OR year(ts) != year(max_ts) THEN ts END) - 1, 6) AS mtd
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_ytd" -> Query((s, dir) =>
      events(s, dir)
        .withColumn("max_ts", max(col("ts")).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(round(Eod.ytd(col("value"), col("ts"), col("max_ts")), 6).as("ytd")),
      """WITH e AS (SELECT *, max(ts) OVER (PARTITION BY event_type) AS max_ts FROM events)
        |SELECT event_type,
        |  round(arg_max(CASE WHEN year(ts) = year(max_ts) THEN value END,
        |                CASE WHEN year(ts) = year(max_ts) THEN ts END)
        |      / arg_min(CASE WHEN year(ts) = year(max_ts) THEN value END,
        |                CASE WHEN year(ts) = year(max_ts) THEN ts END) - 1, 6) AS ytd
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_sharpe" -> Query((s, dir) =>
      withRet(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.sharpe(col("ret"), RF, NP), 6).as("sharpe")),
      s"""$R_CTE SELECT event_type,
        |  round(avg(ret - $RF_LIT) / stddev_samp(ret - $RF_LIT) * sqrt(252.0), 6) AS sharpe
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_risk_return" -> Query((s, dir) =>
      withRet(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.riskReturnRatio(col("ret")), 6).as("risk_return_ratio")),
      s"""$R_CTE SELECT event_type,
        |  round(avg(ret) / stddev_samp(ret) * sqrt(252.0), 6) AS risk_return_ratio
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_sortino" -> Query((s, dir) =>
      withRet(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.sortino(col("ret"), RF, NP), 6).as("sortino")),
      s"""$R_CTE SELECT event_type,
        |  round(CASE WHEN stddev_samp(least(ret - ${java.lang.Double.toString(RF / NP)}, 0.0)) != 0.0
        |    THEN avg(ret - ${java.lang.Double.toString(RF / NP)})
        |         / stddev_samp(least(ret - ${java.lang.Double.toString(RF / NP)}, 0.0)) * sqrt(252.0)
        |    END, 6) AS sortino
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_information_ratio" -> Query((s, dir) =>
      // One window pass + rn-pivot (see eod_prob_mom): unpaired rows
      // null out and avg/stddev drop them, matching the inner join.
      pairedClickViewReturns(s, dir)
        .agg(round(Eod.informationRatio(col("ra"), col("rb")), 6).as("ir")),
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
        |FROM a JOIN b USING (rn)""".stripMargin),
    "eod_max_drawdown" -> Query((s, dir) =>
      withDd(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.maxDrawdownFromDrawdown(col("dd")), 6).as("max_drawdown")),
      s"""$DD_CTE SELECT event_type, round(min(dd), 6) AS max_drawdown
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_ulcer_index" -> Query((s, dir) =>
      withDd(s, dir).groupBy(col("event_type"))
        .agg(round(Eod.ulcerIndexFromDrawdown(col("dd")), 6).as("ulcer_index")),
      s"""$DD_CTE SELECT event_type, round(sqrt(avg(pow(dd * 100.0, 2.0))), 6) AS ulcer_index
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_upi" -> Query((s, dir) =>
      withDd(s, dir).withColumn("ret", Eod.toReturns(col("value"), wT))
        .groupBy(col("event_type"))
        .agg(round(Eod.ulcerPerformanceIndex(col("ret"), col("dd")), 6).as("upi")),
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
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Pain index + pain ratio (op 195, the L1 sibling of the ulcer
    // family): pain = mean depth of the drawdown series (ulcer is the
    // L2 form), pain ratio = CAGR over pain — the Calmar shape with
    // the average, not the worst, drawdown in the denominator. The
    // ratio runs on the bounded stablePrice series (the eod_calmar
    // convention); never-underwater series yield null via safeDiv.
    "eod_pain_index" -> Query((s, dir) =>
      events(s, dir).withColumn("p", stablePrice)
        .withColumn("dd", Eod.toDrawdownSeries(col("value"), wT))
        .withColumn("ddp", Eod.toDrawdownSeries(col("p"), wT))
        .groupBy(col("event_type"))
        .agg((round(avg(-col("dd")), 6) + lit(0.0)).as("pain_index"),
          (round(safeDiv(Eod.cagr(col("p"), col("ts")), avg(-col("ddp"))), 6)
            + lit(0.0)).as("pain_ratio")),
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
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_calmar" -> Query((s, dir) => {
      val e = events(s, dir).withColumn("p", stablePrice)
        .withColumn("dd", Eod.toDrawdownSeries(col("p"), wT))
      e.groupBy(col("event_type"))
        .agg(round(Eod.calmar(col("p"), col("ts"), col("dd")), 6).as("calmar"))
    },
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
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_infer_nperiods" -> Query((s, dir) =>
      events(s, dir)
        .withColumn("delta_sec", Tick.tsDeltaNs(col("ts"), wT) / 1e9)
        .groupBy(col("event_type"))
        .agg(Eod.inferNperiods(col("delta_sec")).as("nperiods")),
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
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin),
    "eod_infer_freq" -> Query((s, dir) =>
      events(s, dir)
        .withColumn("delta_days", Tick.tsDeltaNs(col("ts"), wT) / lit(86400.0 * 1e9))
        .groupBy(col("event_type"))
        .agg(Eod.inferFreq(col("delta_days")).as("freq")),
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
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- EOD risk extensions beyond the reference surface (ops 103-107)
    // Historical VaR + CVaR: the 5% quantile as a per-asset window
    // value, then one agg over the same partitioning — two passes over
    // one shuffle, no re-scan.
    "eod_var_cvar" -> Query((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("var5", Eod.valueAtRisk(col("ret"), 0.05).over(wSym))
        .groupBy(col("event_type"))
        .agg(round(min(col("var5")), 6).as("var_5"),
          round(Eod.cvarGivenVar(col("ret"), col("var5")), 6).as("cvar_5"))
    },
      s"""$R_CTE, q AS (
        |  SELECT event_type, quantile_cont(ret, 0.05) AS var5
        |  FROM r WHERE ret IS NOT NULL GROUP BY event_type
        |)
        |SELECT r.event_type,
        |  round(min(var5), 6) AS var_5,
        |  round(avg(CASE WHEN ret <= var5 THEN ret END), 6) AS cvar_5
        |FROM r JOIN q ON r.event_type = q.event_type
        |WHERE ret IS NOT NULL
        |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin),
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
    "eod_es_backtest" -> Query((s, dir) => {
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
    },
      // op 321: same half split, same R-7 train cut, same exact
      // quantized tail sums, identical Z₂ parenthesization.
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
        |FROM t2 ORDER BY event_type""".stripMargin),
    // Kupiec proportion-of-failures VaR backtest (op 248; Kupiec
    // 1995): does the 5% VaR actually fail 5% of the time — the
    // regulatory validation of op 103. Breaches counted against the
    // full-sample R-7 cut (identical double both engines), LR_pof =
    // −2[(n−x)ln(1−p) + x·ln p − (n−x)ln(1−x/n) − x·ln(x/n)] with
    // the x = 0 term defined 0; reject at the χ²(1) 95% critical
    // value (shared round-trip literal). One window + one agg.
    "eod_var_backtest" -> Query((s, dir) => {
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
    },
      // op 248: the same R-7 cut, the same LR parenthesization with
      // ln(0.05)/ln(0.95) as shared round-trip literals.
      {
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
    }),
    // Christoffersen independence test (op 250; Christoffersen 1998
    // — the op-248 companion): do VaR breaches CLUSTER — transition
    // counts n00/n01/n10/n11 of the breach indicator, LR_ind
    // comparing the Markov transition fit to the iid fit. Every π
    // is an exact integer ratio and every 0·ln0 term is defined 0
    // (guards mirrored verbatim in the oracle); reject at the χ²(1)
    // 95% critical value. One window + one agg.
    "eod_var_independence" -> Query((s, dir) => {
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
    },
      // op 250: the same transition counts, the same guarded 0·ln0
      // terms and left-assoc LR composition.
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
        |FROM l ORDER BY event_type""".stripMargin),
    // Hill tail-index estimator (op 247; Hill 1975): ξ = mean of
    // ln(x_(i)/x_(k+1)) over the k = 50 largest losses — the
    // fat-tail exponent α = 1/ξ that says whether variance even
    // exists (α < 2 = infinite-variance territory; VaR/CVaR
    // assumptions hinge on it). Losses quantize to 1e-6 longs, the
    // order statistic is a (ql DESC, event_id) rank — a total order
    // — and each ln of an exact integer ratio quantizes to 1e-9
    // longs → exact integer mean. One rank window + one tiny join.
    "eod_hill_tail" -> Query((s, dir) => {
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
    },
      // op 247: the same quantized-loss order statistic and
      // 1e-9-quantized ln-ratio terms.
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
        |FROM a ORDER BY event_type""".stripMargin),
    // Rachev ratio (op 228, the op-103 kernel on BOTH tails): mean
    // of the top-5% gain tail over |mean of the bottom-5% loss
    // tail| — reward-tail versus risk-tail, the distribution-shape
    // companion to omega. Same one-window + one-agg shape as
    // var/cvar, R-7 quantile cuts on both sides.
    "eod_rachev" -> Query((s, dir) => {
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
    },
      // op 228: both R-7 quantile cuts, the same tail means and the
      // same gain/(−loss) parenthesization.
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
        |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin),
    // Conditional drawdown at risk (op 148): the VaR/CVaR pattern
    // applied to the DRAWDOWN distribution (Chekhlov/Uryasev/Zabarankin
    // 2005) — the 5th-percentile drawdown depth and the mean depth of
    // the tail at or below it, per series. Same one-window + one-agg
    // plan as eod_var_cvar over the shared drawdown series.
    "eod_cdar" -> Query((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      withDd(s, dir)
        .withColumn("dar5", Eod.valueAtRisk(col("dd"), 0.05).over(wSym))
        .groupBy(col("event_type"))
        .agg(round(min(col("dar5")), 6).as("dar_5"),
          round(Eod.cvarGivenVar(col("dd"), col("dar5")), 6).as("cdar_5"))
    },
      s"""$DD_CTE, q AS (
        |  SELECT event_type, quantile_cont(dd, 0.05) AS dar5
        |  FROM d GROUP BY event_type
        |)
        |SELECT d.event_type,
        |  round(min(dar5), 6) AS dar_5,
        |  round(avg(CASE WHEN dd <= dar5 THEN dd END), 6) AS cdar_5
        |FROM d JOIN q ON d.event_type = q.event_type
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),
    "eod_omega" -> Query((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .groupBy(col("event_type"))
        .agg((round(Eod.omegaRatio(col("ret"), rfPeriodic), 6) + lit(0.0))
          .as("omega")),
      // nullif mirrors safeDiv: a loss-free asset is NULL on both
      // sides, not +inf on one (the gate reads NULL and NaN as NA but
      // inf as a value).
      s"""$R_CTE
        |SELECT event_type,
        |  round(sum(greatest(ret - $RF_LIT, 0)) /
        |        nullif(sum(greatest($RF_LIT - ret, 0)), 0), 6) + 0.0 AS omega
        |FROM r WHERE ret IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Kelly criterion (op 180, Thorp's continuous approximation):
    // f* = μ/σ² of periodic returns — the growth-optimal leverage —
    // plus the half-Kelly practitioners actually run. One agg.
    "eod_kelly" -> Query((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .groupBy(col("event_type"))
        .agg((round(avg(col("ret")) / var_samp(col("ret")), 6) + lit(0.0))
          .as("kelly"),
          (round(avg(col("ret")) / var_samp(col("ret")) / 2.0, 6) + lit(0.0))
            .as("half_kelly")),
      s"""$R_CTE
        |SELECT event_type,
        |  round(avg(ret) / var_samp(ret), 6) + 0.0 AS kelly,
        |  round(avg(ret) / var_samp(ret) / 2.0, 6) + 0.0 AS half_kelly
        |FROM r WHERE ret IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Tail ratio + gain-to-pain (op 157): right/left tail magnitudes
    // via interpolated quantiles (sorting, not summing — engine-exact
    // on identical ret doubles) and Schwager's GPR on 1e-6-quantized
    // integer sums (order-free, the variance-ratio convention).
    "eod_tail_gain" -> Query((s, dir) =>
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
          col("gain_to_pain")),
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
        |FROM q GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Two-pass central moments: mean via per-asset window, deviations
    // aggregated — no raw-moment cancellation (see skewnessFromDev).
    "eod_skew_kurt" -> Query((s, dir) => {
      val wSym = Window.partitionBy(col("event_type"))
      withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("d", col("ret") - avg(col("ret")).over(wSym))
        .groupBy(col("event_type"))
        .agg(round(Eod.skewnessFromDev(col("d")), 6).as("skew"),
          round(Eod.excessKurtosisFromDev(col("d")), 6).as("kurt_excess"))
    },
      s"""$R_CTE, d AS (
        |  SELECT event_type,
        |    ret - avg(ret) OVER (PARTITION BY event_type) AS d
        |  FROM r WHERE ret IS NOT NULL
        |)
        |SELECT event_type,
        |  round(avg(pow(d, 3)) / pow(avg(pow(d, 2)), 1.5), 6) AS skew,
        |  round(avg(pow(d, 4)) / pow(avg(pow(d, 2)), 2) - 3, 6) AS kurt_excess
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),
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
    "eod_jarque_bera" -> Query((s, dir) => {
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
    },
      // op 271: same central-moment CTE, JB from the same 1e-6-quantized
      // moments (engine-exact; see the Spark side's amplification note).
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
        |FROM m ORDER BY event_type""".stripMargin),
    // Cornish–Fisher modified VaR (op 272; Cornish/Fisher 1938, the
    // "mVaR" of hedge-fund risk reports): the Gaussian 5% quantile
    // z adjusted for the sample's skew and excess kurtosis —
    // z_cf = z + (z²−1)S/6 + (z³−3z)K/24 − (2z³−5z)S²/36, then
    // mVaR = μ + z_cf·σ (sample σ). Complements op 103's historical
    // VaR: same tail, parametric-with-shape instead of empirical.
    // One window + one agg, the eod_skew_kurt pass plus stddev_samp.
    "eod_cornish_fisher" -> Query((s, dir) => {
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
    },
      // op 272: identical z_cf polynomial on the same moments.
      {
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
    "eod_mann_kendall" -> Query((s, dir) => {
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
    },
      // op 273: arg_max daily close (order-pinned, no float sums), the
      // same i<j pairing and no-tie variance algebra.
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
        |FROM zt ORDER BY event_type""".stripMargin),
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
    "eod_cusum" -> Query((s, dir) => {
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
    },
      // op 284: same prefix-sum closed form over the same pinned order,
      // centered returns and 5σ threshold quantized to the 1e-6 grid so
      // the cumulative sums and breach compares are integer-exact.
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
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Newey–West long-run variance (op 285; Newey/West 1987): the
    // autocorrelation-robust σ²_NW = γ₀ + 2Σ_{l≤5}(1−l/6)γ_l with
    // Bartlett weights, and the mean-return t-stat under both the
    // iid and the NW variance — the inference companion to op 127's
    // ACF (same one-window + lag-columns + one-agg plan). Ratios and
    // t-stats are O(1) quantities, so the 1e-6 round grid sits far
    // above the engines' accumulation jitter.
    "eod_newey_west" -> Query((s, dir) => {
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
    },
      // op 285: same centered lags, Bartlett weights, identical algebra.
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
        |FROM m ORDER BY event_type""".stripMargin),
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
    "eod_bootstrap_sharpe" -> Query((s, dir) => {
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
    },
      // op 303: the same md5-derived block starts (strpos base-16
      // decode = conv's arithmetic), same trim, and the same
      // prefix-sum-difference replay: returns quantized to the 1e-6
      // grid, block Σ/Σ² recovered from ≤3 exact-long prefix lookups
      // (start, end, circular wrap), so every replicate Sharpe is an
      // identical double on both engines by integer construction.
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
        |ORDER BY mm.event_type""".stripMargin),
    // Dickey–Fuller unit-root test (op 287; Dickey/Fuller 1979): does
    // ln(price) mean-revert or random-walk — OLS of Δy on (1, y_{t−1})
    // in the closed 2-regressor form, one lag pass + one agg of sums
    // (the same shuffle every series op shares). The DF t-stat is
    // non-Normal, so the verdict compares the MacKinnon 5%
    // constant-case critical value −2.86; half-life −ln2/ln(1+ρ̂)
    // only for mean-reverting fits (ρ̂∈(−1,0)), rounded coarse (2dp)
    // because d(hl)/dρ ≈ ln2/ρ² amplifies sum jitter.
    "eod_adf" -> Query((s, dir) => {
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
    },
      // op 287: same closed-form OLS sums over (Δ ln p, lag ln p).
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
        |FROM t ORDER BY event_type""".stripMargin),
    // Engle–Granger cointegration vs the 'view' benchmark (op 288;
    // Engle/Granger 1987): stage 1 regresses ln p_a on ln p_b over the
    // rn-aligned pair (the op-107 pairing shape — one window pass for
    // rn, equi-join on rn), stage 2 runs the no-constant DF test on
    // the stage-1 residuals. The 4-row OLS-parameter table broadcasts
    // back onto the pair rows; both engines form the residual with the
    // IDENTICAL centered parenthesization (ya−m̄a) − β(yb−m̄b). Verdict
    // against the 2-variable EG 5% critical value −3.34 (MacKinnon).
    "eod_cointegration" -> Query((s, dir) => {
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
    },
      // op 288: same two OLS stages, identical residual parenthesization.
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
        |FROM t ORDER BY pair_id""".stripMargin),
    "eod_ewma_vol" -> Query((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .select(col("event_type"), col("event_id"),
          round(Eod.ewmaVolatility(col("ret"), wT, 60), 6).as("ewma_vol")),
      // O(60·n) pairwise replay of the truncated-weight EWMA — an oracle
      // formulation, not a scale shape (the Spark side folds a bounded
      // trailing array instead).
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
        |GROUP BY a.event_type, a.event_id""".stripMargin),
    // Volatility-targeted position sizing (op 397; the risk-parity /
    // managed-vol overlay every systematic book runs): weight_t =
    // min(2, σ_target/σ̂_{t−1}) from the op-106 EWMA vol (the t−1 lag
    // keeps it tradable — no look-ahead), scaled return w·r. Weights
    // quantize to q6 longs off the ROUNDED vol (the op-106 output
    // grid, identical on both engines), the scaled series lives on
    // the exact 1e-12 integer grid, and the realized-vol reduction
    // comes from exact moments. One extra lag over the op-106 window.
    "eod_vol_targeting" -> Query((s, dir) => {
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
    },
      // op 397: the op-106 pairwise EWMA replay rounded to the SAME q6
      // grid, then identical lag/weight/scaled-moment algebra.
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
        |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin),
    // GARCH(1,1) filtered conditional vol (op 295; Bollerslev 1986):
    // the k-truncated closed form over the trailing 60 returns ending
    // at t−1, pinned (ω, α, β) = (2e-8, 0.08, 0.90) — ω scaled so the
    // long-run variance ω/(1−α−β) = 1e-6 matches the series' return
    // scale. Same collect_list + native codegen fold as op 106; rows
    // with no prior return (each series' first) are dropped to match
    // the oracle's inner self-join frame.
    "eod_garch_filter" -> Query((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("garch", Eod.garchVolatility(col("ret"), wT, 60,
          omega = 2.0e-8, alpha = 0.08, beta = 0.90))
        .withColumn("rn", row_number().over(wT))
        .where(col("rn") >= 2) // the frame is built BEFORE this filter
        .select(col("event_type"), col("event_id"),
          round(col("garch"), 8).as("garch_vol")),
      // op 295: O(60·n) pairwise replay of the truncated GARCH kernel —
      // an oracle formulation; the Spark side folds a bounded trailing
      // array. The inner join's empty frame at rn=1 mirrors the Spark
      // side's rn >= 2 filter.
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
        |GROUP BY a.event_type, a.event_id""".stripMargin),
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
    "eod_holt_winters" -> Query((s, dir) => {
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
    },
      // op 348: the op-343 recipe with the third (seasonal) weight
      // column in the VALUES rows.
      {
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
    }),
    "eod_holt" -> Query((s, dir) => {
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
    },
      // op 343: the SAME driver-computed Holt filter weights as 60-row
      // VALUES literals (Double.toString round-trips = the Spark lits);
      // identical per-term 1e-9 quantization, unordered exact sum.
      {
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
    "eod_kalman" -> Query((s, dir) => {
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
    },
      // op 362: the op-343 VALUES recipe with the (level, prev-level)
      // weight pair; innovation = raw value − prev-level dot.
      {
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
    }),
    // Forecast backtest (op 352; the op-343 eval harness — what
    // ann_recall is to the ANN index, this is to the smoother): pair
    // each q6-floored 5-step Holt forecast with the REALIZED price 5
    // rows ahead (lead over the same window), quantize each error to
    // a 1e-6 long so MAE/RMSE/bias accumulate exactly (squares in
    // decimal(38,0) against the e²·n growth), one keyed agg per
    // series. "Is the smoother worth shipping" as a driver-checked
    // number.
    "eod_forecast_eval" -> Query((s, dir) => {
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
    },
      // op 352: the op-343 VALUES recipe + lead(value, 5), identical
      // quantized error aggregation.
      {
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
    "eod_rolling_beta" -> Query((s, dir) =>
      pairedReturnsVsView(s, dir).select(col("pair_id"), col("rn"),
        (round(Eod.rollingBeta(col("ra"), col("rb"), wPair, 60), 4)
          + lit(0.0)).as("beta")),
      // prefix-sum-difference algebra, textually mirroring the Spark
      // query (the frame covar/var form is O(frame) per row at scale)
      s"""$PAIRED_CTE${prefixFrameSql(60, includeXx = false)}
        |SELECT pair_id, rn,
        |  round(CASE WHEN n * syy - sy * sy <> 0
        |        THEN (n * sxy - sx * sy) / (n * syy - sy * sy) END, 4) + 0.0
        |    AS beta
        |FROM d""".stripMargin),
    // Eod.rollingCorr, the same paired frame sums plus Σx²:
    // r = (nΣxy−ΣxΣy)/√((nΣxx−Σx²)(nΣyy−Σy²)).
    "eod_rolling_corr" -> Query((s, dir) =>
      pairedReturnsVsView(s, dir).select(col("pair_id"), col("rn"),
        (round(Eod.rollingCorr(col("ra"), col("rb"), wPair, 60), 4)
          + lit(0.0)).as("roll_corr")),
      s"""$PAIRED_CTE${prefixFrameSql(60, includeXx = true)}
        |SELECT pair_id, rn,
        |  round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |        THEN (n * sxy - sx * sy)
        |             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 4)
        |    + 0.0 AS roll_corr
        |FROM d""".stripMargin),
    // Full-sample CAPM vs the 'view' benchmark (op 133, ffn-lineage
    // alpha/beta): ONE hash agg over the rn-paired returns emits beta,
    // annualized Jensen's alpha, R², and tracking error per pair.
    "eod_capm" -> Query((s, dir) =>
      pairedReturnsVsView(s, dir)
        .groupBy(col("pair_id"))
        .agg(
          (round(Eod.capmBeta(col("ra"), col("rb")), 6) + lit(0.0)).as("beta"),
          (round(Eod.capmAlpha(col("ra"), col("rb")) * Eod.TradingDaysPerYear,
            6) + lit(0.0)).as("alpha_ann"),
          (round(Eod.capmR2(col("ra"), col("rb")), 6) + lit(0.0)).as("r2"),
          (round(Eod.trackingError(col("ra"), col("rb")), 6) + lit(0.0))
            .as("tracking_error")),
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
        |FROM a ORDER BY pair_id""".stripMargin),
    // Up/down capture + win rate (op 134): arithmetic capture (mean-
    // based — exact under any agg order, unlike compounded capture),
    // same single paired hash agg shape as eod_capm.
    "eod_capture" -> Query((s, dir) =>
      pairedReturnsVsView(s, dir)
        .groupBy(col("pair_id"))
        .agg(
          (round(Eod.upCapture(col("ra"), col("rb")), 6) + lit(0.0))
            .as("up_capture"),
          (round(Eod.downCapture(col("ra"), col("rb")), 6) + lit(0.0))
            .as("down_capture"),
          (round(Eod.winRate(col("ra")), 6) + lit(0.0)).as("win_rate")),
      s"""$PAIRED_CTE
        |SELECT pair_id,
        |  round(avg(CASE WHEN rb > 0 THEN ra END)
        |      / avg(CASE WHEN rb > 0 THEN rb END), 6) + 0.0 AS up_capture,
        |  round(avg(CASE WHEN rb < 0 THEN ra END)
        |      / avg(CASE WHEN rb < 0 THEN rb END), 6) + 0.0 AS down_capture,
        |  round(avg(CASE WHEN ra > 0 THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS win_rate
        |FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL
        |GROUP BY pair_id ORDER BY pair_id""".stripMargin),
    // Treynor ratio + M² (op 181, the beta- and vol-adjusted pair
    // beside Sharpe/alpha): Treynor = annualized mean return over CAPM
    // beta (systematic-risk denominator); Modigliani M² = the asset's
    // Sharpe re-levered to the benchmark's annualized vol — both rf=0,
    // the eod_capm convention. Same single paired hash agg as op 133.
    "eod_treynor_m2" -> Query((s, dir) =>
      pairedReturnsVsView(s, dir)
        .groupBy(col("pair_id"))
        .agg(
          (round(avg(col("ra")) * Eod.TradingDaysPerYear /
            Eod.capmBeta(col("ra"), col("rb")), 6) + lit(0.0))
            .as("treynor_ann"),
          (round(avg(col("ra")) / stddev_samp(col("ra"))
            * stddev_samp(col("rb")) * Eod.TradingDaysPerYear, 6) + lit(0.0))
            .as("m2_ann")),
      s"""$PAIRED_CTE
        |SELECT pair_id,
        |  round(avg(ra) * 252 / (covar_samp(ra, rb) / var_samp(rb)), 6) + 0.0
        |    AS treynor_ann,
        |  round(avg(ra) / stddev_samp(ra) * stddev_samp(rb) * 252, 6) + 0.0
        |    AS m2_ann
        |FROM p WHERE ra IS NOT NULL AND rb IS NOT NULL
        |GROUP BY pair_id ORDER BY pair_id""".stripMargin),
    // Jobson–Korkie/Memmel Sharpe-difference test (op 204 — "is this
    // fund's Sharpe REALLY higher than the benchmark's?"): z =
    // (SRa − SRb)/√(θ/n), θ = 2(1−ρ) + ½(SRa² + SRb² − SRa·SRb(1+ρ²))
    // (Memmel 2003's correction of JK 1981). Per-period Sharpes
    // (annualization cancels in the ratio), one paired hash agg.
    "eod_sharpe_test" -> Query((s, dir) =>
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
              / col("n")), 6) + lit(0.0)).as("z_stat")),
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
        |FROM a ORDER BY pair_id""".stripMargin),
    // Lo (2002) autocorrelation-adjusted Sharpe (op 209): the iid
    // √252 annualizer overstates the Sharpe of autocorrelated
    // series; the correct factor is q/√(q + 2Σ_{k<q}(q−k)ρ_k),
    // truncated at 5 lags (the op-127 ACF kernel — ρ≈0 beyond).
    // One window pass builds the lags, ONE hash agg composes the
    // statistic; the weighted ρ sum is left-associated identically
    // on both engines.
    "eod_sharpe_adj" -> Query((s, dir) => {
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
    },
      // op 209: same lag columns, same left-associated weighted ρ sum,
      // same (srp · 252)/√(252 + 2Σ) parenthesization.
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
        |FROM a ORDER BY event_type""".stripMargin)),
    // Downside/upside beta (op 239; Bawa–Lindenberg): β conditioned
    // on the benchmark's sign — the asymmetry the single CAPM β
    // averages away (β⁻ ≫ β⁺ is the crash-exposure signature).
    // Returns quantize to 1e-6 longs, the condition tests the
    // QUANTIZED benchmark (engine-identical branch), product sums
    // through DECIMAL(19,0)², β as the same (nΣab − ΣaΣb)/(nΣbb −
    // ΣbΣb) double algebra. One paired hash agg.
    "eod_downside_capm" -> Query((s, dir) => {
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
    },
      // op 239: the same quantized-sign condition and conditional
      // DECIMAL sums, the same β double algebra per side.
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
        |FROM b ORDER BY pair_id""".stripMargin),
    // Henriksson–Merton market timing (op 226; HM 1981): r_a = α +
    // β·r_b + γ·max(r_b, 0) — γ > 0 is timing skill (the manager
    // holds more beta in up markets). Closed-form 3-var OLS by
    // Cramer's rule on normal-equation sums: returns quantize to
    // 1e-6 longs, every product sum runs through DECIMAL(19,0)²
    // (exact), and the four 3×3 determinants are written with
    // IDENTICAL expansion order on both engines — so α/β/γ are the
    // same doubles. One paired hash agg per series.
    "eod_hm_timing" -> Query((s, dir) => {
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
    },
      // op 226: the same 1e-6 quantization, DECIMAL(19,0)² product
      // sums, and the identical Cramer expansion order.
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
        |FROM det ORDER BY pair_id""".stripMargin),
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
    "eod_treynor_mazuy" -> Query((s, dir) => {
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
    },
      // op 377: the op-249 Cramer chain with x2 = floor(rb²·1e6 + ½)
      // (the square quantized directly — see the Spark-side comment).
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
        |FROM det ORDER BY pair_id""".stripMargin),
    // Bias ratio (op 376; Abdulali 2006) — the return-smoothing
    // forensic: count of returns in [0, +σ] over 1 + count in
    // [−σ, 0); honest market returns sit near 1, smoothed/marked
    // books pile just above zero and score ≫ 1. σ comes from the
    // EXACT integer moments (n·Σq² − (Σq)² over n(n−1) as DECIMAL,
    // one IEEE sqrt on the same rational → identical double both
    // engines), then quantizes onto the 1e-6 grid so the band
    // membership tests are pure integer compares. Two keyed aggs +
    // one broadcast join of the k-row σ relation.
    "eod_bias_ratio" -> Query((s, dir) => {
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
    },
      // op 376: exact-moment σ quantized onto the grid, then pure
      // integer band counts — the same algebra as the Spark side.
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
        |GROUP BY q.event_type ORDER BY q.event_type""".stripMargin),
    // Calendar extremes (op 210 — ffn's best_day/worst_day family):
    // best/worst single-tick return plus best/worst calendar-DAY
    // compound return (day eop via max_by(ts), the op-135 kernel;
    // the testdata spans one month, so day is the calendar grain
    // with real support). min/max only — order-independent, no sum
    // nondeterminism anywhere.
    "eod_extremes" -> Query((s, dir) => {
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
    },
      // op 210: min/max only; the day leg replays the op-135 arg_max
      // day-eop kernel.
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
        |ORDER BY t.event_type""".stripMargin),
    // Ljung–Box portmanteau test at lags 1..5 (op 182, the
    // significance companion to op 127's ACF): Q = n(n+2)·Σ ρ_k²/(n−k)
    // with ρ_k the pairwise lag-k correlation (the eod_acf kernel) and
    // n the non-null return count. One window pass builds the five
    // lagged columns, ONE hash agg composes the statistic — corr's
    // pairwise null-skip is identical on both engines.
    "eod_ljung_box" -> Query((s, dir) => {
      val lagged = withRet(s, dir).select(
        Seq(col("event_type"), col("ret")) ++
          (1 to 5).map(kk => lag(col("ret"), kk).over(wT).as(s"l$kk")): _*)
      val nn = count(col("ret")).cast("double")
      val qSum = (1 to 5).map(kk =>
        pow(corr(col("ret"), col(s"l$kk")), 2) / (nn - kk)).reduce(_ + _)
      lagged.groupBy(col("event_type"))
        .agg(count(col("ret")).as("n_obs"),
          (round(nn * (nn + 2.0) * qSum, 6) + lit(0.0)).as("lb_q"))
    },
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
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin)),
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
    "eod_portfolio" -> Query((s, dir) => {
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
    },
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
        |FROM d GROUP BY port_id ORDER BY port_id""".stripMargin),
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
    "eod_portfolio_weighted" -> Query((s, dir) => {
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
    },
      // weighted + rebalance-calendar twin (op 152): identical drift
      // algebra — per-leg ln w + block-cum Σln(1+r), max-shifted LSE
      // cross-section, Δlv per block, op-151 summary. Keep in lockstep
      // with the Spark query.
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
        |FROM dd2 GROUP BY port_id ORDER BY port_id""".stripMargin),
    // Rebalance turnover (op 199, the op-152 companion every weighted
    // mandate reports): at each 21-row block end, weights have DRIFTED
    // to w′_a = exp(ai − lv); the trade the next rebalance executes is
    // turnover = Σ|w_target − w′|/2 (one-way). Same drift algebra as
    // eod_portfolio_weighted (ln w + Σln(1+r), max-shifted LSE);
    // per-asset deviations quantize to 1e-6 longs before the sum. The
    // final block's row is the residual drift at period end (no
    // following rebalance) — kept, and documented as such.
    "eod_turnover" -> Query((s, dir) => {
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
    },
      // op 199: same drift CTEs as the weighted portfolio (rebal21
      // only), block-end LSE, 1e-6-quantized deviations.
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
        |FROM t2 GROUP BY blk ORDER BY blk""".stripMargin),
    // Brinson allocation attribution (op 200; Brinson–Fachler 1985,
    // single-level with assets as classes): per 21-row block, the
    // declared-weight portfolio vs the equal-weight benchmark —
    // contribution_a = (w_a − 1/4)·(r_a − r_B), which sums to the
    // block's active return. Asset block returns compound from the
    // op-199 INTEGER log sums (r_a = exp(Σlq/1e9) − 1, quantized to
    // 1e-6 longs), the benchmark return is the exact integer mean, so
    // every product is the same double algebra on the same integers.
    "eod_brinson" -> Query((s, dir) => {
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
    },
      // op 200: same integer block log sums, same quantized block
      // returns, exact integer benchmark mean, floor-quantized output.
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
        |FROM j ORDER BY blk, event_type""".stripMargin),
    // Multi-benchmark CAPM (op 143): every asset series regressed on
    // EVERY series in a declared benchmark set at once — the
    // fund-vs-{index, sector, peer-median} report ffn users build by
    // looping calc_stats per benchmark. The benchmark frame is the
    // K·n-row slice of the returns relation (K = #benchmarks, small by
    // declaration), so it broadcasts: ONE broadcast hash join on rn
    // fans each asset row out to its K benchmark pairings — no shuffle
    // of the asset side, however many benchmarks — and one hash agg by
    // (pair_id, bench_id) emits the whole grid.
    "eod_capm_multi" -> Query((s, dir) => {
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
    },
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
        |FROM g ORDER BY pair_id, bench_id""".stripMargin),
    // Rolling capture ratios (op 144): the windowed twin of
    // eod_capture — trailing-60-row up/down capture and win rate per
    // pair, same per-pair window partitioning as the rolling beta/corr
    // family (never single-partition; WindowGuard enforces).
    // Eod.rollingUpCapture / rollingDownCapture / rollingWinRate:
    // up-capture = Σ(ra|rb>0)/Σ(rb|rb>0) over the frame (the frame
    // counts cancel; the masked count only guards the no-rising-row
    // null), all from O(1) per-row frame-difference sums. The oracle
    // replays the identical algebra.
    "eod_rolling_capture" -> Query((s, dir) => {
      val (ra, rb) = (col("ra"), col("rb"))
      pairedReturnsVsView(s, dir).select(col("pair_id"), col("rn"),
        (round(Eod.rollingUpCapture(ra, rb, wPair, 60), 4) + lit(0.0))
          .as("up_capture"),
        (round(Eod.rollingDownCapture(ra, rb, wPair, 60), 4) + lit(0.0))
          .as("down_capture"),
        (round(Eod.rollingWinRate(ra, wPair, 60), 4) + lit(0.0))
          .as("win_rate"))
    },
      // prefix-sum twin of Eod.rollingUpCapture/DownCapture/WinRate
      // (identical masked cumulative sums + lag-difference algebra; keep
      // in lockstep).
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
        |FROM d""".stripMargin),
    // Calendar return table (op 135, ffn's return-table/heatmap API in
    // long form): period-end value per (series, calendar bucket) — one
    // hash agg, max_by on the unique per-series ts — then period-over-
    // period returns via a lag over the TINY bucketed relation (the
    // window is per-series, never single-partition). Day grain here
    // because the testdata spans one month; the month×year heatmap is
    // the same plan with (yr, mo) as the bucket.
    "eod_return_table" -> Query((s, dir) => {
      val m = events(s, dir)
        .groupBy(col("event_type"), year(col("ts")).as("yr"),
          month(col("ts")).as("mo"), dayofmonth(col("ts")).as("dy"))
        .agg(max_by(col("value"), col("ts")).as("eop"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("yr"), col("mo"), col("dy"))
      m.select(col("event_type"), col("yr"), col("mo"), col("dy"),
          (round(col("eop") / lag(col("eop"), 1).over(w) - 1, 6) + lit(0.0))
            .as("period_ret"))
    },
      """WITH m AS (
        |  SELECT event_type, year(ts) AS yr, month(ts) AS mo,
        |         day(ts) AS dy, arg_max(value, ts) AS eop
        |  FROM events GROUP BY 1, 2, 3, 4
        |)
        |SELECT event_type, yr, mo, dy,
        |  round(eop / lag(eop) OVER (PARTITION BY event_type
        |                             ORDER BY yr, mo, dy) - 1, 6) + 0.0
        |    AS period_ret
        |FROM m ORDER BY event_type, yr, mo, dy""".stripMargin),
    // Day-of-week seasonality (op 190, the return_table's calendar
    // sibling): mean return (floor-mean on 1e-6-quantized longs —
    // order-free) and hit rate (exact integer ratio) per (series, ISO
    // weekday). Spark's weekday() is 0=Monday, DuckDB's isodow 1=Monday
    // — the +1 aligns them. One keyed hash agg, map-side combinable.
    "eod_seasonality" -> Query((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("dow", weekday(col("ts")) + 1)
        .withColumn("q", floor(col("ret") * 1e6 + 0.5).cast("long"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"),
          (floor(sum(col("q")).cast("double") / count(lit(1)) + 0.5) / 1e6)
            .as("mean_ret"),
          round(sum(when(col("ret") > 0, 1.0).otherwise(0.0))
            / count(lit(1)), 6).as("hit_rate")),
      s"""$R_CTE
        |SELECT event_type, CAST(isodow(ts) AS INT) AS dow, count(*) AS n,
        |  floor(CAST(sum(CAST(floor(ret * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / count(*) + 0.5) / 1e6 AS mean_ret,
        |  round(sum(CASE WHEN ret > 0 THEN 1.0 ELSE 0.0 END) / count(*), 6)
        |    AS hit_rate
        |FROM r WHERE ret IS NOT NULL
        |GROUP BY event_type, dow ORDER BY event_type, dow""".stripMargin),
    // Calendar resampling (op 153, ffn to_period lineage): weekly
    // grain here (the testdata spans ~a month → several buckets);
    // monthly/yearly are the same plan with a different date_trunc
    // literal. Output follows the epoch-µs timestamp convention.
    "eod_resample_period" -> Query((s, dir) =>
      Eod.resampleToPeriod(events(s, dir), "event_type", "ts", "value", "week")
        .select(col("event_type"), unix_micros(col("period")).as("period_us"),
          round(col("eop"), 6).as("eop"),
          (round(col("period_ret"), 6) + lit(0.0)).as("period_ret")),
      """WITH m AS (
        |  SELECT event_type, date_trunc('week', ts) AS period,
        |         arg_max(value, ts) AS eop
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, epoch_us(period) AS period_us,
        |  round(eop, 6) AS eop,
        |  round(eop / lag(eop) OVER (PARTITION BY event_type
        |                             ORDER BY period) - 1, 6) + 0.0 AS period_ret
        |FROM m ORDER BY event_type, period_us""".stripMargin),
    // Drawdown episode report (op 126, ffn's drawdown_details): the
    // query surfaces the event-id row identities (ns-timestamp
    // convention, header note); the operator also carries the real
    // start/trough/end timestamps for human use.
    "eod_drawdown_details" -> Query((s, dir) =>
      Drawdown.details(events(s, dir), "event_type", "ts", "event_id", "value")
        .select(col("event_type"), col("episode"), col("start_id"),
          col("trough_id"), col("end_id"), col("n_obs"), col("depth"),
          col("recovered")),
      // Episode ids: running count of at-high rows (dd >= 0) — every
      // underwater run keeps the id of the high that preceded it.
      // Ordered-aggregate first/last mirror Spark's min_by/max_by over
      // the same lexicographic keys.
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
        |ORDER BY event_type, episode""".stripMargin),
    // Lookback returns (op 177, ffn calc_stats' three_month/six_month/
    // one_year block at this corpus' one-month span): price now vs the
    // last price at-or-before end−Δ, per series — end anchored by a
    // per-series window max, the Δ-cut values picked by max_by with a
    // null-ordering guard (rows past the cut contribute a null order
    // key, which max_by skips — no second scan, no join).
    "eod_lookback_returns" -> Query((s, dir) => {
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
    },
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
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Cross-sectional return rank (op 174): at each aligned index,
    // rank the assets by that period's return — the momentum /
    // long-short decile primitive. Windows partition by the
    // cross-section key (many small partitions, never one big one);
    // rank ties break on the asset name over identical ret doubles.
    "eod_cross_rank" -> Query((s, dir) => {
      val r = withRet(s, dir).where(col("ret").isNotNull)
        .withColumn("rn", row_number().over(wT))
      val wX = Window.partitionBy(col("rn"))
        .orderBy(col("ret").desc, col("event_type"))
      r.withColumn("xrank", row_number().over(wX).cast("long"))
        .withColumn("n_assets",
          count(lit(1)).over(Window.partitionBy(col("rn"))))
        .select(col("event_type"), col("rn"), round(col("ret"), 6).as("ret"),
          col("xrank"), col("n_assets"))
    },
      s"""$R_CTE, x AS (
        |  SELECT event_type, ret,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM r WHERE ret IS NOT NULL
        |)
        |SELECT event_type, rn, round(ret, 6) AS ret,
        |  row_number() OVER (PARTITION BY rn ORDER BY ret DESC, event_type) AS xrank,
        |  count(*) OVER (PARTITION BY rn) AS n_assets
        |FROM x ORDER BY rn, xrank""".stripMargin),
    // Long-short momentum backtest (op 175, the op-174 end-use): rank
    // on the PREVIOUS period's return (the signal must lag the
    // holding period — ranking on the same period's return is
    // lookahead), hold long the top 2 / short the bottom 2 of each
    // complete 5-asset cross-section, and summarize the spread
    // series: period count, mean spread (1e-6-quantized integer
    // sums), annualized Sharpe, hit rate. One extra lag on the
    // already-shuffled per-series window, then per-rn aggs.
    "eod_long_short" -> Query((s, dir) => {
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
    },
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
        |FROM ls""".stripMargin),
    // Win/loss streaks (op 235, ffn's calc_stats streak fields):
    // longest winning/losing run and the count of runs ≥ 5, per
    // series — gaps-and-islands (rn − per-sign row_number), every
    // value an exact integer. Two windows + two keyed aggs.
    "eod_streaks" -> Query((s, dir) => {
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
    },
      // op 235: the same gaps-and-islands integers.
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
        |FROM runs GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Spearman correlation matrix (op 236, the robust sibling of op
    // 70): each series' returns ranked over TIME (event_id
    // tiebreak → integer ranks, engine-exact), then Pearson on the
    // rank pairs via the op-70 bucket-pair shape — ranks are small
    // integers so every corr co-moment sum is exact in double.
    "eod_spearman_matrix" -> Query((s, dir) => {
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
    },
      // op 236: identical time-ranks, the op-70 rn pair join.
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Cross-sectional information coefficient (op 214, the
    // signal-quality companion to op 175's backtest): per complete
    // 5-asset period, Spearman ρ between the PREVIOUS period's
    // return rank and this period's return rank — competition ranks
    // with the event_type tiebreak make d integer, so ρ = 1 −
    // 6Σd²/(n(n²−1)) is the same exact double on both engines; the
    // IC series then summarizes to mean (floor-quantized integer
    // sums), t-stat, and hit rate. Two rank windows + two hash aggs.
    "eod_ic" -> Query((s, dir) => {
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
    },
      // op 214: identical competition ranks (same tiebreak), exact
      // integer Σd², same 1 − 6Σd²/120 parenthesization, the op-175
      // summary shape.
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
        |FROM p""".stripMargin),
    // K-ratio (op 222; Kestner 2003): OLS slope of the LOG equity
    // curve on the time index, divided by its standard error and
    // √n — "how straight is the growth line". Every sum is exact:
    // x is the integer row index, y is ln(price) quantized to 1e-9
    // longs, and the squared/cross sums run through DECIMAL(19,0)²
    // (ln² overflows long at this corpus' price range). The slope/
    // SE algebra then sees identical operands on both engines. ONE
    // map-side-combinable hash agg after the rn window.
    "eod_k_ratio" -> Query((s, dir) => {
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
    },
      // op 222: same integer x/1e-9-quantized ln(price) sums through
      // DECIMAL(19,0)², same OLS parenthesization.
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
        |FROM e ORDER BY event_type""".stripMargin),
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
    "eod_active_share" -> Query((s, dir) => {
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
    },
      // op 216: the same 1e-6/1e-9 integer quantizations, the same
      // exact iq/Σiq weight ratios and 1e-9-quantized contribution
      // sums — every double either derives from identical integers or
      // is an exact integer ratio.
      // op 400: the op-237 weight chain (same DECIMAL moments, same
      // q9 inverse-vol quantization), the exact-integer deviation sum.
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
        |FROM d GROUP BY block ORDER BY block""".stripMargin),
    "eod_inverse_vol" -> Query((s, dir) => {
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
    },
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
        |ORDER BY j.block, j.event_type""".stripMargin),
    // Drawdown episode summary (op 162, the calc_stats duration
    // block): aggregates the op-126 episode table per series —
    // episode count, deepest/mean depth (mean on 1e-6-quantized
    // integer sums; depth is already on the 1e-6 grid so the
    // quantization is lossless), longest/mean duration, and the
    // underwater fraction of all observations (total via a tiny
    // per-series count joined back).
    "eod_drawdown_stats" -> Query((s, dir) => {
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
    },
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
        |FROM ep GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Burke + Sterling ratios (op 168, the drawdown-denominated
    // performance family next to Calmar): numerator = annualized
    // arithmetic mean return (avg·252, the documented variant);
    // Burke divides by √(Σ depth²) over the op-126 episodes, Sterling
    // by |mean of the 5 deepest| — depths are 1e-6-grid doubles, so
    // qd = floor(d·1e6+0.5) longs make Σqd² and the top-5 mean exact
    // integers (order-free); ranking ties break on episode id.
    "eod_burke_sterling" -> Query((s, dir) => {
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
    },
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
        |ORDER BY ann.event_type""".stripMargin),
    // Return autocorrelation at lags 1..5 (op 127): one window pass
    // builds all five lagged columns, one hash agg computes the five
    // correlations, stack() unpivots to (lag_k, acf) rows. corr
    // skips null pairs identically in both engines; `+ 0.0` squashes
    // a rounded −0.0 (a near-zero ACF is the common case).
    "eod_acf" -> Query((s, dir) => {
      val lagged = withRet(s, dir).select(
        Seq(col("event_type"), col("ret")) ++
          (1 to 5).map(kk => lag(col("ret"), kk).over(wT).as(s"l$kk")): _*)
      val aggs = (1 to 5).map(kk =>
        (round(corr(col("ret"), col(s"l$kk")), 6) + lit(0.0)).as(s"a$kk"))
      lagged.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
        .selectExpr("event_type",
          "stack(5, 1, a1, 2, a2, 3, a3, 4, a4, 5, a5) AS (lag_k, acf)")
    },
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
        "\n) ORDER BY event_type, lag_k")),
    // Lo–MacKinlay variance ratio (op 128): VR(q) = Var(q-period log
    // return)/(q·Var(1-period)) over non-overlapping complete blocks.
    // Log returns quantize to 1e-6 longs BEFORE the block sums so the
    // sums are order-independent (repo convention); explode×{2,4,8}
    // keeps it ONE window pass + one agg chain instead of three scans.
    "eod_variance_ratio" -> Query((s, dir) => {
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
    },
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
        |ORDER BY v.event_type, q""".stripMargin),
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
    "eod_hurst" -> Query((s, dir) => {
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
    },
      // op 191: identical integer dev/range/variance algebra; window
      // sums CAST BIGINT (DuckDB promotes to HUGEINT), floor-quantized
      // block means, slope over the log-spaced sizes = Δln/ln16.
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
        |FROM pm GROUP BY event_type ORDER BY event_type""".stripMargin),
    // ffn's calc_stats / GroupStats headline (op 131): the full
    // per-series performance summary as ONE composed plan — a single
    // ordered-window pass computes returns and both drawdown series,
    // one partition-frame window adds the centered deviations, one
    // hash agg emits all twelve metrics. Each metric reuses the
    // kernel (and rounding) of its standalone oracle-green query.
    "eod_perf_summary" -> Query((s, dir) => {
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
    },
      // Each metric below is the verbatim aggregate of its standalone
      // green oracle (total_return/cagr/sharpe/sortino/max_drawdown/
      // calmar/ulcer/upi/skew_kurt/year_frac), composed over one base CTE.
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
        |FROM b2 GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Rolling median + quartiles (op 233, polars rolling_quantile
    // lineage): R-7 interpolated quantiles over a 20-row sliding
    // frame. No prefix-sum form exists for order statistics (the
    // op-67 maxDD argument), so this stays a genuine frame — the
    // one rolling family member that must re-aggregate per row.
    "eod_rolling_median" -> Query((s, dir) => {
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
    },
      // op 233: the same R-7 window-frame quantiles.
      s"""$R_CTE
          |SELECT event_type, event_id,
          |  round(quantile_cont(ret, 0.25) OVER w2, 6) + 0.0 AS roll_p25,
          |  round(quantile_cont(ret, 0.5) OVER w2, 6) + 0.0 AS roll_median,
          |  round(quantile_cont(ret, 0.75) OVER w2, 6) + 0.0 AS roll_p75
          |FROM r
          |WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
          |              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin),
    "eod_prob_mom" -> Query((s, dir) => { // native t_cdf; oracle replays the
      // SAME continued fraction in a recursive CTE (see its oracle)
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
    },
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
        |FROM ib""".stripMargin),
    // Companion that pins prob_mom's INPUTS in the oracle: the t-CDF
    // kernel itself has no SQL form (it stays t-table/reference-pinned
    // in spec), but the t-statistic and df feeding it are plain SQL —
    // this shrinks the unverified surface to just the CDF evaluation.
    "eod_prob_mom_inputs" -> Query((s, dir) =>
      withRet(s, dir)
        .where(col("event_type").isin("click", "view"))
        .withColumn("rn", row_number().over(wT))
        .groupBy(col("rn"))
        .agg(max(when(col("event_type") === "click", col("ret"))).as("ra"),
          max(when(col("event_type") === "view", col("ret"))).as("rb"))
        .agg(
          round(avg(col("ra") - col("rb")) / stddev_samp(col("ra") - col("rb")), 6)
            .as("t_stat"),
          (count(col("ra") - col("rb")) - 1).as("t_df")),
      // prob_mom's t-statistic + df are plain SQL even though its t-CDF
      // kernel isn't — same rn-pivot as the Spark plan (unpaired rows
      // yield a null side, which avg/stddev/count drop)
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
        |FROM p""".stripMargin),

    // ---- cross-asset correlation + corpus n-gram stats
    "eod_corr_matrix" -> Query((s, dir) => {
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
    },
      """WITH r AS (
          |  SELECT event_type, value / lag(value) OVER w - 1 AS ret,
          |         row_number() OVER w AS rn
          |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
          |)
          |SELECT a.event_type AS type_a, b.event_type AS type_b,
          |  round(corr(a.ret, b.ret), 6) AS corr
          |FROM r a JOIN r b ON a.rn = b.rn AND a.event_type < b.event_type
          |GROUP BY type_a, type_b ORDER BY type_a, type_b""".stripMargin),
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
    "eod_pca_factor" -> Query((s, dir) => {
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
    },
      // op 305: the identical quantized pair moments (hugeint = the
      // Spark side's decimal), identical 1e-6 re-quantized ρ, and the
      // 6 power iterations unrolled as generated CTE triples — every
      // arithmetic step integer-exact or a deterministic double op on
      // identical integers, so the loadings match bit-for-bit.
      {
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
    "eod_tangency" -> Query((s, dir) => {
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
    },
      // op 306: same exact pair moments → integer covariance grid,
      // 4 fixed-point rounds unrolled as generated CTE quintuples,
      // identical max-pivot quantization and +1-unit (Cw) floor.
      // op 325: same pair-moment covariance CTE; 6 unrolled Jacobi
      // sweeps (MATERIALIZED per the risk-parity lesson), identical
      // floor/divide placement, L1 normalization + Sharpe at 1e-6.
      {
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
    "eod_risk_parity" -> Query((s, dir) => {
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
    },
      {
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
    "eod_factor_ols" -> Query((s, dir) => {
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
    },
      // op 316: identical quantized moments (hugeint = the Spark
      // side's decimal) and identical double parenthesization of the
      // 2×2 normal-equation algebra — deterministic on the same
      // integers, so the rounded coefficients match bit-for-bit.
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
          |FROM b ORDER BY event_type""".stripMargin),

    // ---- rolling metrics (north-star "rolling calculations")
    // Eod.rollingMean/Volatility/Sharpe/DownsideDev/Sortino over the
    // trailing 20 rows, each an O(1) per-row frame difference of
    // running sums (the frame-bounded avg/stddev re-aggregate O(k) per
    // row). Null returns (the first row of each series) add 0 to every
    // sum and to the count, like the null-skipping frame aggregates;
    // vol is guarded ≥ 0 and the oracle replays the IDENTICAL algebra.
    // Every window shares wT's sort — one Exchange, one Sort.
    "eod_rolling" -> Query((s, dir) => {
      val r = col("ret")
      def r4(c: Column) = round(c, 4) + lit(0.0)
      withRet(s, dir).select(col("event_type"), col("event_id"),
        r4(Eod.rollingMean(r, wT, 20)).as("roll_mean"),
        r4(Eod.rollingVolatility(r, wT, 20)).as("roll_vol"),
        r4(Eod.rollingSharpe(r, wT, 20)).as("roll_sharpe"),
        r4(Eod.rollingDownsideDev(r, wT, 20)).as("roll_downside"),
        r4(Eod.rollingSortino(r, wT, 20)).as("roll_sortino"))
    },
      // prefix-sum twin of Eod.rollingMean/Volatility/Sharpe/
      // DownsideDev/Sortino: identical cumulative sums, lag-difference
      // and guard algebra (keep in lockstep).
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
          |FROM m""".stripMargin)
  )
}
