package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product/event analytics (`events_`) and gap sessionization
  * (`sessionize`). */
object EventsQueries {

  val registry: Seq[(String, Registration)] = Seq(

    // Daily event-volume anomaly monitor (op 354; the ops staple —
    // "did ingest break yesterday"): per-day counts, robust center via
    // the op-116 R-7 median/MAD machinery (1-row broadcasts), modified
    // z = (n − med)/(1.4826·MAD), flag at |z| > 3. Day counts are
    // exact integers; med/MAD are R-7 on integers (half-integers at
    // worst) — identical doubles both engines.
    "events_anomaly_days" -> Query((s, dir) => {
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
    },
      // op 354: same daily counts, same R-7 med/MAD, identical z.
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
          |FROM d, m, md ORDER BY day_us""".stripMargin),

    // ---- sessionization (session_window: same expression batch+stream)
    "sessionize" -> Query((s, dir) =>
      sessionReport(graft.streaming.EventStream
        .sessionize(events(s, dir), "30 minutes")
        .select(col("user_id"), col("n_events"),
          unix_micros(col("first_ts")).as("first_us"),
          unix_micros(col("last_ts")).as("last_us"))),
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
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- product/event analytics (ops 330-332): the funnel /
    // cohort-retention / SCD2 trio every clickstream lake runs.
    // Kernels in operators/Events.scala; everything integer-exact
    // (flags, counts, epoch-µs interval bounds), so the DuckDB replay
    // hash-matches with no float convention needed.
    "events_funnel" -> Query((s, dir) =>
      graft.operators.Events
        .funnelFlags(events(s, dir), "signup", "click", "purchase"),
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
          |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin),

    // op 349: the conversion-WINDOW variant — a step counts only
    // within 3 days of the qualifying previous step (the "did they
    // convert promptly" funnel every growth team also runs).
    "events_funnel_windowed" -> Query((s, dir) =>
      graft.operators.Events
        .funnelFlags(events(s, dir), "signup", "click", "purchase",
          maxGapUs = Some(259200000000L)),
      // op 349: the op-330 SQL with the 3-day conversion-window bound
      // on both qualifying conditions.
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
          |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin),

    // op 350: md5-coin A/B split + pooled two-proportion z on exact
    // integers — the experimentation staple, engine-replayable
    // randomization (op-77 convention).
    "events_ab_test" -> Query((s, dir) =>
      graft.operators.Events.abTest(events(s, dir), "purchase",
        minValue = 150.0),
      // op 350: the w8 md5-word coin, pooled z on exact integers.
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
          |FROM z""".stripMargin),

    // op 368: TOST equivalence on the same split — the "no harm"
    // launch gate (failing to reject ≠ equivalent); δ = 0.05 margin,
    // unpooled SE, equivalent ⟺ min(z_lo, z_hi) > 1.645.
    "events_ab_equivalence" -> Query((s, dir) =>
      graft.operators.Events.abEquivalence(events(s, dir), "purchase",
        minValue = 150.0, delta = 0.05),
      // op 368: same split/counts, unpooled TOST SE, identical z's.
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
          |FROM t""".stripMargin),

    // op 373: the SRM gate on the SAME md5 split both A/B readouts
    // use — the assignment-integrity check that runs before either.
    "events_srm" -> Query((s, dir) =>
      graft.operators.Events.srmCheck(events(s, dir), "purchase",
        minValue = 150.0),
      // op 373: the same md5 split; χ² via the (na−nb)²/(na+nb)
      // closed form for equal expecteds.
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
          |FROM a""".stripMargin),

    // op 374: CUPED variance-reduced readout — pre-period per-user
    // value as the covariate, split at the global time midpoint.
    "events_cuped" -> Query((s, dir) =>
      graft.operators.Events.cuped(events(s, dir)),
      // op 374: identical quantized pre/post sums, DECIMAL moments,
      // the same double algebra for θ and the adjusted means.
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
          |FROM t""".stripMargin),

    // op 375: L28-style activity histogram with casual/core/power
    // tiers.
    "events_power_users" -> Query((s, dir) =>
      graft.operators.Events.powerUsers(events(s, dir)),
      // op 375: distinct active days per user, histogram + tier.
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
          |FROM u GROUP BY active_days ORDER BY active_days""".stripMargin),

    // op 398: heterogeneous treatment effect — the op-350 test per
    // props-k quartile of each user's first event.
    "events_lift_by_segment" -> Query((s, dir) =>
      graft.operators.Events.abTestBySegment(events(s, dir), "purchase",
          minValue = 150.0),
      // op 398: first-event props-k quartile per user, then the
      // op-350 pooled-z algebra per segment.
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
          |FROM z ORDER BY segment""".stripMargin),

    // op 388: data-driven Markov removal-effect attribution — the
    // chain-model alternative to op 335's positional rules; direct
    // fixed-pivot-order Gaussian elimination on the absorption
    // system (scalar IEEE ops → cross-engine bit-parity), every
    // chain relation driver-sized.
    "events_markov_attribution" -> Query((s, dir) =>
      graft.operators.Events.markovAttribution(events(s, dir), "purchase"),
      // op 388: the same journey cut / tail-close / transition
      // counts, 24 unrolled floor-division sweeps on the 1e-9 grid.
      {
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
      }),
    "events_retention" -> Query((s, dir) =>
      graft.operators.Events.retention(events(s, dir), "signup")
        .select(col("cohort_us"), col("week_offset"), col("n_active"),
          col("n_cohort"),
          round(col("n_active").cast("double") / col("n_cohort"), 6)
            .as("retained_pct")),
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
          |ORDER BY cohort_us, week_offset""".stripMargin),
    "events_scd2" -> Query((s, dir) =>
      scd2Report(graft.operators.Events.scd2Intervals(events(s, dir))),
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
          |FROM k ORDER BY user_id, valid_from_us""".stripMargin),
    "events_lifecycle" -> Query((s, dir) =>
      graft.operators.Events.lifecycle(events(s, dir)),
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
          |FROM states GROUP BY week_us ORDER BY week_us""".stripMargin),
    "events_attribution" -> Query((s, dir) =>
      graft.operators.Events
        .attribution(events(s, dir), "purchase", 604800000000L),
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
          |ORDER BY 1""".stripMargin),
    "events_rfm" -> Query((s, dir) =>
      graft.operators.Events.rfm(events(s, dir), "purchase"),
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
          |FROM s ORDER BY user_id""".stripMargin),

    // op 364: time-to-convert — the funnel's latency dimension (ops
    // 330/349 measure reach, this measures HOW LONG): per user, first
    // signup → first strictly-later purchase, lag in exact floor-
    // division seconds; R-7 median/p90 over integer lags + the exact
    // conversion rate. Two user-keyed aggs + a driver-sized report.
    "events_conversion_lag" -> Query((s, dir) => {
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
      conversionLagReport(lag_, t0.agg(count(lit(1)).as("n_signups")))
    },
      // op 364: same first-signup/first-later-purchase lags, R-7
      // quantiles on integer seconds, exact rate.
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
          |FROM lags, ns GROUP BY n_signups""".stripMargin),

    // op 357: DAU/WAU/MAU + stickiness — the canonical engagement
    // report; three (grain, user)-keyed distinct aggs, driver-sized
    // joins, exact-integer ratio on the q6 grid.
    "events_dau_mau" -> Query((s, dir) =>
      graft.operators.Events.dauMau(events(s, dir)),
      // op 357: same grain truncations, distinct-user counts, q6 ratio.
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
          |ORDER BY day_us""".stripMargin),

    // op 351: cohort LTV curves — the revenue companion of op 331;
    // exact decimal weekly revenue, cumulative per-member LTV on the
    // q6 floor grid, cumulative window over the driver-sized report.
    "events_cohort_ltv" -> Query((s, dir) =>
      graft.operators.Events.cohortLtv(events(s, dir), "signup", "purchase"),
      // op 351: same cohort/week algebra as op 331, decimal revenue,
      // cumulative window over the report relation, q6 floors.
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
          |ORDER BY cohort_us, week_offset""".stripMargin),
    "events_transitions" -> Query((s, dir) =>
      graft.operators.Events.transitions(events(s, dir)),
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
          |ORDER BY from_type, to_type""".stripMargin),

    // op 356: top user journeys — the 3-event path counts behind every
    // "common flows" product report: two lags over the ONE
    // hash(user_id) exchange, keyed count, global top-10 as
    // TakeOrderedAndProject (driver-sized k, no unpartitioned window).
    "events_journeys" -> Query((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      journeysReport(events(s, dir)
        .withColumn("e2", lag(col("event_type"), 1).over(w))
        .withColumn("e1", lag(col("event_type"), 2).over(w))
        .where(col("e1").isNotNull)
        .select(col("e1"), col("e2"), col("event_type").as("e3")))
    },
      // op 356: same two-lag path counts, same deterministic top-10.
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
          |ORDER BY n DESC, e1, e2, e3 LIMIT 10""".stripMargin)
  )
}
