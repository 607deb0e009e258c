package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Tick
import graft.operators.{AsOfJoin, Resample}
import graft.sim.MarketSim

/** Tick microstructure: trade rate, order flow, VWAP, bars, realized
  * volatility and range estimators, plus the quote/NBBO statistics
  * (`quote_`) and the seeded bootstrap resamplers (`df_`). */
object TickQueries {

  private val SQL_VOL = "(event_id % 100 + 1)::DOUBLE"

  private val GkWeight = 2.0 * math.log(2.0) - 1.0 // 0.3862943611198906

  private val CsK = 3.0 - 2.0 * math.sqrt(2.0)     // 0.1715728752538097

    // Per-key resample LCG seed as a literal: first md5 word of the key
    // (Resample.keySeed with a constant key, driver-computed).
  private def keySeedLit(key: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16).toString
    }

  val registry: Seq[(String, Registration)] = Seq(
    // Wald–Wolfowitz runs test on tick directions (op 249): is the
    // order flow's sign sequence random — R runs of nonzero tick
    // signs vs E = 2n₊n₋/n + 1 and σ² = 2n₊n₋(2n₊n₋−n)/(n²(n−1));
    // every input an exact integer count, z identical double
    // algebra. The hypothesis-test companion to op 196's sign ACF.
    "tick_runs_test" -> Query((s, dir) => {
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
    },
      // op 249: the same nonzero-sign runs count and integer-count z.
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
        |FROM d ORDER BY event_type""".stripMargin),
    // Order-flow sign autocorrelation (op 196): the eod_acf kernel on
    // tick-rule signs — the long-memory-of-order-flow diagnostic (LOB
    // literature: sign ACF decays slowly where returns' doesn't).
    // Signs are small ints, corr's pairwise null-skip identical on
    // both engines; one window pass builds dir + its five lags.
    "tick_sign_autocorr" -> Query((s, dir) => {
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
    },
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
        "\n) ORDER BY event_type, lag_k")),
    // Intraday volume profile (op 242, the U-shape diagnostic every
    // execution scheduler calibrates against): volume share per
    // (symbol, hour-of-day) — integer volume sums, share an exact
    // integer ratio. One keyed agg + a per-symbol total join.
    "tick_volume_profile" -> Query((s, dir) => {
      val v = (col("event_id") % 100 + 1).cast("long")
      val h = events(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).as("hr"))
        .agg(sum(v).as("vol"), count(lit(1)).as("n_trades"))
      val t = h.groupBy(col("event_type")).agg(sum(col("vol")).as("tv"))
      h.join(t, "event_type")
        .select(col("event_type"), col("hr"), col("n_trades"), col("vol"),
          round(col("vol").cast("double") / col("tv").cast("double"), 6)
            .as("vol_share"))
    },
      // op 242: integer volume sums, exact share ratios.
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
          |ORDER BY h.event_type, h.hr""".stripMargin),
    // Bipower variation & jump share (op 211; Barndorff-Nielsen &
    // Shephard 2004): BV = (π/2)·Σ|r_i||r_{i−1}| is robust to jumps
    // while RV = Σr² is not, so max(0, 1 − BV/RV) isolates the jump
    // contribution to realized variance. One window pass (log return
    // + its lag), one hash agg; π/2 inlined as the same round-trip
    // double literal on both engines.
    "tick_bipower" -> Query((s, dir) => {
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
    },
      // op 211: same log-return + lag pass, same π/2 round-trip
      // literal, same greatest(0, 1 − BV/RV) parenthesization.
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
        |FROM a ORDER BY event_type""".stripMargin),
    // Corwin–Schultz high–low spread estimator (op 215; Corwin &
    // Schultz 2012): bid-ask spread recovered from daily high/low
    // ranges alone — β sums the two days' squared log ranges, γ is
    // the squared log range of the two-day span, α combines them
    // with k = 3 − 2√2, S = 2(e^α − 1)/(1 + e^α). Non-overlapping
    // day pairs via lead() on odd row numbers; day highs/lows are
    // exact parquet max/min, every transcendental sees the same
    // double on both engines, negative estimates floor at 0 (the
    // paper's convention). Mean spread per series over ~15 pairs.
    "tick_corwin_schultz" -> Query((s, dir) => {
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
    },
      // op 215: same day-grain max/min highs/lows, same k = 3 − 2√2
      // round-trip literal, identical α/S parenthesization.
      {
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
    }),

    // ---- Tick (ops 25-38)
    "tick_trade_rate" -> Query((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.tradeRate(col("ts"), "ms"), 6).as("trade_rate")),
      """SELECT event_type,
        |  round(count(*)::DOUBLE / ((epoch_us(max(ts)) * 1000 - epoch_us(min(ts)) * 1000) / 1e6), 6) AS trade_rate
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "tick_inter_trade_time" -> Query((s, dir) =>
      events(s, dir).withColumn("delta_ns", Tick.tsDeltaNs(col("ts"), wT))
        .groupBy(col("event_type"))
        .agg(round(Tick.interTradeTime(col("delta_ns"), "s"), 6).as("inter_trade_time")),
      """WITH d AS (
        |  SELECT event_type,
        |    epoch_us(ts) * 1000 - lag(epoch_us(ts) * 1000) OVER w AS delta_ns
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, round(avg(delta_ns) / 1e9, 6) AS inter_trade_time
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),
    "tick_burstiness" -> Query((s, dir) =>
      events(s, dir).withColumn("delta_ns", Tick.tsDeltaNs(col("ts"), wT))
        .groupBy(col("event_type"))
        .agg(round(Tick.burstiness(col("delta_ns")), 6).as("burstiness")),
      """WITH d AS (
        |  SELECT event_type,
        |    epoch_us(ts) * 1000 - lag(epoch_us(ts) * 1000) OVER w AS delta_ns
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, round(stddev_samp(delta_ns) / avg(delta_ns), 6) AS burstiness
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),
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
    "tick_acd" -> Query((s, dir) =>
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
          round(col("x") / col("psi"), 6).as("dur_surprise")),
      // op 304: the eod_garch_filter oracle recipe on durations — the
      // k=60 truncated fold replayed as a 60-row range self-join; ψ at
      // 4dp (durations are O(10²) s; see the Spark-side note).
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
        |FROM p""".stripMargin),
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
    "tick_hawkes" -> Query((s, dir) =>
      events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("sumq", graft.expressions.HawkesKernelSum(
          collect_list(col("us")).over(wT.rowsBetween(-60, -1)),
          col("us"), base = 0.995))
        .select(col("event_type"), col("event_id"),
          round(lit(0.05) + lit(0.3) * (col("sumq").cast("double") / 1e9), 6)
            .as("lambda")),
      // op 342: O(60·n) pairwise replay of the truncated Hawkes kernel;
      // each term an exact 1e-9 long, so the unordered sum replays the
      // Spark fold bit-for-bit (LEFT JOIN keeps the empty first frame:
      // λ = μ).
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
        |GROUP BY a.event_type, a.event_id""".stripMargin),
    "tick_volume_rate" -> Query((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.volumeRate(volume, col("ts"), "s"), 6).as("volume_rate")),
      s"""SELECT event_type,
        |  round(sum($SQL_VOL) / ((epoch_us(max(ts)) * 1000 - epoch_us(min(ts)) * 1000) / 1e9), 6) AS volume_rate
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "tick_ofi" -> Query((s, dir) =>
      events(s, dir)
        .withColumn("sv", Tick.signVolumeByTickRule(volume, col("value"), wT))
        .groupBy(col("event_type"))
        .agg(round(Tick.orderFlowImbalance(col("sv")), 6).as("ofi")),
      s"""WITH t AS (
        |  SELECT event_type, $SQL_VOL *
        |    (CASE WHEN value > lag(value) OVER w THEN 1
        |          WHEN value < lag(value) OVER w THEN -1 ELSE 0 END) AS sv
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, round(sum(sv), 6) AS ofi
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),
    "tick_traded_value" -> Query((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.tradedValue(col("value"), volume), 2).as("traded_value")),
      s"""SELECT event_type,
        |  round(CAST(sum(CAST(value * $SQL_VOL AS DECIMAL(30,10))) AS DOUBLE), 2) AS traded_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "tick_vwap" -> Query((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.vwap(col("value"), volume), 6).as("vwap")),
      s"""SELECT event_type,
        |  round(CAST(sum(CAST(value * $SQL_VOL AS DECIMAL(30,10))) AS DOUBLE)
        |      / CAST(sum(CAST($SQL_VOL AS DECIMAL(30,10))) AS DOUBLE), 6) AS vwap
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "tick_rule" -> Query((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        Tick.tickRule(col("value"), wT).cast("int").as("direction")),
      """SELECT event_type, event_id,
        |  CAST(CASE WHEN value > lag(value) OVER w THEN 1
        |            WHEN value < lag(value) OVER w THEN -1 ELSE 0 END AS INT) AS direction
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin),
    "tick_signed_volume" -> Query((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Tick.signVolumeByTickRule(volume, col("value"), wT), 6).as("signed_volume")),
      s"""SELECT event_type, event_id,
        |  round($SQL_VOL * (CASE WHEN value > lag(value) OVER w THEN 1
        |                         WHEN value < lag(value) OVER w THEN -1 ELSE 0 END), 6) AS signed_volume
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin),
    "tick_imbalance" -> Query((s, dir) =>
      events(s, dir).withColumn("dir", Tick.tickRule(col("value"), wT))
        .groupBy(col("event_type"))
        .agg((round(Tick.tickImbalance(col("dir")), 6) + lit(0.0))
          .as("tick_imbalance")),
      """WITH t AS (
        |  SELECT event_type,
        |    CASE WHEN value > lag(value) OVER w THEN 1
        |         WHEN value < lag(value) OVER w THEN -1 ELSE 0 END AS dir
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, round(sum(dir)::DOUBLE / count(*)::DOUBLE, 6) + 0.0 AS tick_imbalance
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),
    "tick_micro_returns" -> Query((s, dir) =>
      events(s, dir).select(col("event_type"), col("event_id"),
        round(Tick.microReturns(col("value"), wT), 6).as("micro_ret")),
      """SELECT event_type, event_id,
        |  round(CASE WHEN value > 0 THEN ln(value) END
        |        - lag(CASE WHEN value > 0 THEN ln(value) END) OVER w, 6) AS micro_ret
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin),
    "tick_pvr" -> Query((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.priceVolatilityRatio(col("value")), 6).as("pvr")),
      """SELECT event_type, round(stddev_samp(value) / avg(value), 6) AS pvr
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "tick_price_impact" -> Query((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(round(Tick.priceImpact(col("value"), volume, col("ts")), 6).as("price_impact")),
      s"""SELECT event_type,
        |  round((arg_max(value, ts) - arg_min(value, ts)) / sum($SQL_VOL), 6) AS price_impact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "tick_realized_vol" -> Query((s, dir) =>
      events(s, dir).withColumn("lr", Tick.microReturns(col("value"), wT))
        .groupBy(col("event_type"))
        .agg(round(Tick.realizedVolatility(col("lr")), 6).as("realized_vol")),
      """WITH t AS (
        |  SELECT event_type, CASE WHEN value > 0 THEN ln(value) END
        |    - lag(CASE WHEN value > 0 THEN ln(value) END) OVER w AS lr
        |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |)
        |SELECT event_type, round(sqrt(sum(pow(lr, 2.0))), 6) AS realized_vol
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Realized higher moments (op 291; Amaya/Christoffersen/Jacobs/
    // Vasquez 2015): intraday skew √n·Σr³/RV^{3/2} and kurtosis
    // n·Σr⁴/RV² from the same one-lag-pass log returns as op 38's RV —
    // the jump/crash-risk signals a realized-vol desk reads next to
    // RV, and still a single map-side-combined agg of power sums.
    "tick_realized_moments" -> Query((s, dir) =>
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
            (col("rv") * col("rv")), 6).as("realized_kurt")),
      // op 291: same power sums (explicit products, not pow, matching
      // the Spark side's multiplication chain).
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
        |FROM a ORDER BY event_type""".stripMargin),

    // ---- resample / as-of / prob_mom (ops 39, 42, 19)
    "df_resample_returns" -> Query((s, dir) =>
      Resample.resampleMean(
          withRet(s, dir).where(col("event_type") === "click")
            .select(col("event_type"), col("ret"), col("ts"), col("event_id")),
          "ret", Seq("event_type"), Seq("ts", "event_id"), 50)
        .select(col("trial"), col("stat")),
      // LCG draws replay with the md5-derived per-key seed inlined as a
      // literal (single key 'click'); the draw relation is v itself
      // crossed with the trial range — mirroring Resample.drawsAndRows.
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
          |FROM draws JOIN v USING (rn) GROUP BY trial ORDER BY trial""".stripMargin),
    // Every event_type resampled as its own series in one plan — the
    // shape that holds for thousands of assets (keyed windows + keyed
    // draw join; no global sort, no driver count).
    "df_resample_by_key" -> Query((s, dir) =>
      Resample.resampleMean(
        withRet(s, dir)
          .select(col("event_type"), col("ret"), col("ts"), col("event_id")),
        "ret", Seq("event_type"), Seq("ts", "event_id"), 20),
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
          |GROUP BY d.event_type, d.trial ORDER BY 1, 2""".stripMargin),
    // Reference resample_returns applies a stat fn returning a row of
    // named stats per trial (df/core.py:36-44): mean + vol here, both
    // from exact quantized-integer sums so any engine reproduces them.
    "df_resample_multistat" -> Query((s, dir) =>
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
        .select(col("trial"), col("mean"), col("vol")),
      // Same draw stream as df_resample_returns (20 trials); mean and
      // vol both from exact integer sums — identical double-op order on
      // both engines.
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
          |FROM s ORDER BY trial""".stripMargin),
    // Upsample + forward-fill (op 232, the reference host API's
    // upsample/fill_forward lineage): a regular hourly grid per
    // series, each grid point carrying the last observation at or
    // before it. Spark-first the fill IS the op-42 backward as-of
    // join of the generated grid against the events — one key
    // shuffle, no per-key loops; sequence() builds the grid
    // in-plan, no driver materialization.
    "df_upsample_ffill" -> Query((s, dir) => {
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
    },
      // op 232: generate_series grid + the same backward ASOF fill.
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
          |ORDER BY g.event_type, ts_us""".stripMargin),
    // Kyle's lambda price impact (op 117).
    "tick_kyle_lambda" -> Query((s, dir) =>
      events(s, dir)
        .withColumn("dp", col("value") - lag(col("value"), 1).over(wT))
        .withColumn("sv", Tick.signVolumeByTickRule(volume, col("value"), wT))
        .where(col("dp").isNotNull)
        .groupBy(col("event_type"))
        .agg(round(Tick.kyleLambda(col("dp"), col("sv")), 6).as("kyle_lambda")),
      s"""WITH d AS (
          |  SELECT event_type,
          |    value - lag(value) OVER w AS dp,
          |    $SQL_VOL * (CASE WHEN value > lag(value) OVER w THEN 1
          |                     WHEN value < lag(value) OVER w THEN -1 ELSE 0 END) AS sv
          |  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
          |)
          |SELECT event_type, round(covar_samp(dp, sv) / var_samp(sv), 6) AS kyle_lambda
          |FROM d WHERE dp IS NOT NULL
          |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // TWAP (op 176): time-weighted average price — each tick's price
    // weighted by its holding time to the next tick (the last tick
    // has no interval and drops, the TWAP convention). Exactness:
    // weights are integer microseconds and the weighted sums
    // accumulate as DECIMAL(30,8) (exact, order-free — the rel_*
    // convention), divided once at the end in double.
    "tick_twap" -> Query((s, dir) =>
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
          sum(col("dt_us")).as("span_us")),
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
          |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Roll implied spread (op 159): Δp and its lag from ONE ordered
    // window pass (lag(value,1/2)), covariance aggregated per symbol.
    "tick_roll_spread" -> Query((s, dir) =>
      events(s, dir)
        .withColumn("dp", col("value") - lag(col("value"), 1).over(wT))
        .withColumn("dpl",
          lag(col("value"), 1).over(wT) - lag(col("value"), 2).over(wT))
        .where(col("dp").isNotNull && col("dpl").isNotNull)
        .groupBy(col("event_type"))
        .agg((round(Tick.rollSpread(col("dp"), col("dpl")), 6) + lit(0.0))
          .as("roll_spread")),
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
          |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Amihud illiquidity (op 160): mean |ret|/(p·v) ×1e6 per symbol —
    // the dollar-volume-normalized impact proxy on the same synthetic
    // volume convention as the rest of the tick family.
    "tick_amihud" -> Query((s, dir) =>
      withRet(s, dir).where(col("ret").isNotNull)
        .groupBy(col("event_type"))
        .agg(round(Tick.amihudIlliquidity(col("ret"), col("value") * volume),
          6).as("amihud")),
      // zero-dollar prints are skipped (NULL in the CASE → dropped
        // by avg), mirroring the Spark-side lazy guard.
        s"""$R_CTE
          |SELECT event_type,
          |  round(avg(CASE WHEN value * $SQL_VOL > 0
          |                 THEN abs(ret) / (value * $SQL_VOL) * 1e6 END), 6)
          |    AS amihud
          |FROM r WHERE ret IS NOT NULL
          |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // VPIN (op 183; Easley/López de Prado/O'Hara 2012): order-flow
    // toxicity over EQUAL-VOLUME buckets — tick-rule buy/sell volumes
    // per volume bar (the op-59 exclusive-prefix bar id, threshold
    // 5000), VPIN = Σ|V_buy − V_sell| / ΣV. Volumes are integral, so
    // every sum is exact under any aggregation order; zero-direction
    // first prints count toward V but neither side (the tick_rule
    // convention). One window pass + two keyed hash aggs.
    "tick_vpin" -> Query((s, dir) => {
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
    },
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
          |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Parkinson + Garman–Klass range volatility (op 184): the
    // OHLC-based estimators over the op-59 hourly bars — Parkinson
    // uses the high/low range (≈5× more efficient than close-close),
    // GK adds the open-close term. Per-bar terms cast to
    // DECIMAL(30,10) before summing (order-free, the quote_stats
    // convention); a non-positive GK mean yields null, not NaN.
    "tick_parkinson_gk" -> Query((s, dir) => {
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
    },
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
          |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Yang–Zhang volatility (op 275; Yang/Zhang 2000): the
    // drift-independent OHLC estimator that handles overnight jumps —
    // σ²_YZ = V_overnight + k·V_openclose + (1−k)·V_RS with
    // k = 0.34/(1.34 + (n+1)/(n−1)), V_RS the Rogers–Satchell mean.
    // Daily bars via the op-59 kernel (one shuffle), the overnight
    // link one lag over the per-series day order, then one agg.
    // Zero-price days (low = 0, sf0.1 has zero prints) drop BEFORE
    // the lag on both engines so the overnight link re-chains
    // identically; var_samp needs n ≥ 2 overnight rows else null.
    "tick_yang_zhang" -> Query((s, dir) => {
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
    },
      // op 275: same daily-bar CTE, low>0 filter BEFORE the lag so the
      // overnight link re-chains identically, identical k algebra.
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
          |FROM a2 ORDER BY event_type""".stripMargin),

    // ---- OHLCV bars (reference tick/bars.py stub)
    "tick_time_bars" -> Query((s, dir) => {
      val e = events(s, dir).withColumn("volume", volume)
      graft.operators.Bars
        .timeBars(e, "event_type", "ts", "value", "volume", "1 hour",
          tiebreak = Some("event_id"))
        .select(col("event_type"), unix_micros(col("bar_start")).as("bs"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
          round(col("volume"), 6).as("volume"),
          round(col("vwap"), 6).as("vwap"), col("n_ticks"))
    },
      s"""SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bs,
          |  round(arg_min(value, ts), 6) AS open,
          |  round(max(value), 6) AS high,
          |  round(min(value), 6) AS low,
          |  round(arg_max(value, ts), 6) AS close,
          |  round(sum($SQL_VOL), 6) AS volume,
          |  round(CAST(sum(CAST(value * $SQL_VOL AS DECIMAL(30,10))) AS DOUBLE)
          |        / CAST(sum(CAST($SQL_VOL AS DECIMAL(30,10))) AS DOUBLE), 6) AS vwap,
          |  count(*) AS n_ticks
          |FROM events GROUP BY event_type, bs ORDER BY event_type, bs""".stripMargin),
    // Volume / dollar bars (op 59 extensions, López de Prado's
    // information-driven bars): equal-activity bars via exclusive
    // prefix sums — integral volume (and cent-quantized dollars) keep
    // the cumsum engine-exact, so bar EDGES replay bit-for-bit.
    "tick_volume_bars" -> Query((s, dir) => {
      val e = events(s, dir).withColumn("volume", volume)
      graft.operators.Bars
        .volumeBars(e, "event_type", "ts", "value", "volume", threshold = 5000L,
          tiebreak = Some("event_id"))
        .select(col("event_type"), col("bar"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
          round(col("volume"), 6).as("volume"),
          round(col("vwap"), 6).as("vwap"), col("n_ticks"))
    },
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
          |FROM c GROUP BY event_type, bar ORDER BY event_type, bar""".stripMargin),
    "tick_dollar_bars" -> Query((s, dir) => {
      val e = events(s, dir).withColumn("volume", volume)
      graft.operators.Bars
        .dollarBars(e, "event_type", "ts", "value", "volume",
          thresholdCents = 50000000L, tiebreak = Some("event_id"))
        .select(col("event_type"), col("bar"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
          round(col("volume"), 6).as("volume"),
          round(col("vwap"), 6).as("vwap"), col("n_ticks"))
    },
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
          |FROM c GROUP BY event_type, bar ORDER BY event_type, bar""".stripMargin),

    // ---- quote analytics + latency (reference quote/latency stubs)
    "quote_stats" -> Query((s, dir) => {
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
    },
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
          |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Effective vs quoted spread (op 163): each trade as-of joins the
    // prevailing synthetic NBBO (bid/ask on the deterministic
    // stable-price grid), eff = 2·|p − mid| against the quoted
    // ask − bid — the execution-quality report (eff < quoted =
    // inside-spread fills). Per-row values quantize to 1e-6 longs
    // before the per-key mean (the asof_latency convention). Same
    // single key-shuffle as every as-of op.
    "tick_effective_spread" -> Query((s, dir) => {
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
    },
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
          |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin),
    // Lee–Ready trade classification (op 192; Lee & Ready 1991): the
    // quote test first — above the prevailing mid = buy, below = sell
    // — falling back to the tick rule AT the mid (flat tick stays
    // unclassified). Tick direction computes on the trade relation
    // BEFORE the as-of join (the op-173 convention), so a trade
    // without a prevailing quote never distorts its successor's tick.
    // Same single as-of shuffle as the spread family; the buy fraction
    // is an exact integer ratio.
    "tick_lee_ready" -> Query((s, dir) => {
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
    },
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
          |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin),
    // Realized-spread decomposition (op 173, Huang-Stoll lineage):
    // eff = realized + impact — realized = 2q·(p − mid_{t+5s})
    // (what the liquidity provider actually earned), impact =
    // 2q·(mid_{t+5s} − mid_t) (the information cost). Two as-of
    // passes: backward for the prevailing mid, forward from t+5s for
    // the future mid; trade sign q by the tick rule per key. Per-row
    // 1e-6-quantized longs before the floor-means.
    "tick_realized_spread" -> Query((s, dir) => {
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
    },
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
          |FROM j2 GROUP BY user_id ORDER BY user_id""".stripMargin),
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
    "tick_depth_imbalance" -> Query((s, dir) => {
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
    },
      // op 391: the same integer sizes, the same quantized per-tick
      // imbalance and floor-mean.
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
          |FROM qi GROUP BY ticker, day ORDER BY ticker, day""".stripMargin),
    "tick_quote_trade_ratio" -> Query((s, dir) => {
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
    },
      // op 372: quote count / trade count per (ticker, day), trades
      // replayed by the same md5 take-coin as the sim_trades oracle.
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
          |ORDER BY ticker, day""".stripMargin)
  )
}
