package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{denseGrid, gridEntry, let, SMAX}

/** Product/event analytics over an append-only event log — the
  * funnel / cohort-retention / SCD2-compaction trio every
  * clickstream lake runs at 100 TB (SURVEY §2 ops 330-332). No
  * reference twin (the reference is a returns library); these extend
  * the `events` table the same way the corpus_* family extends
  * `documents`.
  *
  * Scale notes (the whole family is one-key territory):
  *   - every window partitions by `user_id`, so the single shuffle is
  *     hash(user_id); the per-user aggregations that follow reuse that
  *     partitioning (no second exchange — Catalyst sees the child
  *     distribution satisfies the groupBy requirement);
  *   - nothing here collects, crosses, or re-sorts globally; the only
  *     driver-sized relations are the final reports (steps, cohorts).
  */
object Events {

  private def us(c: Column): Column = unix_micros(c)

  /** Strictly-ordered funnel reach per user: a step-k event counts
    * only if it is STRICTLY LATER (in event time) than the earliest
    * qualifying step-(k-1) event. One pass: a running
    * min-of-qualifying-time window per step over the same
    * (user_id, ts, event_id) order — k windows, one shuffle.
    * Returns one row per user with reach flags (s1/s2/s3), the
    * [[funnelReach]] of per-event step flags.
    */
  def funnelFlags(events: DataFrame, step1: String, step2: String,
                  step3: String, maxGapUs: Option[Long] = None): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = col("event_type")
    // optional conversion window: a step-k event also has to land
    // within maxGapUs of the qualifying step-(k−1) time
    def inWin(prev: Column) =
      maxGapUs.map(g => col("_us") - prev <= g).getOrElse(lit(true))
    val e1 = events
      .withColumn("_us", us(col("ts")))
      .withColumn("_t1", min(when(t === step1, col("_us"))).over(w))
    val e2 = e1.withColumn("_q2",
        t === step2 && col("_t1").isNotNull && col("_us") > col("_t1") &&
          inWin(col("_t1")))
      .withColumn("_t2", min(when(col("_q2"), col("_us"))).over(w))
    val e3 = e2.withColumn("_q3",
      t === step3 && col("_t2").isNotNull && col("_us") > col("_t2") &&
        inWin(col("_t2")))
    funnelReach(e3.select(col("user_id"),
      when(t === step1, 1).otherwise(0).as("s1"),
      when(col("_q2"), 1).otherwise(0).as("s2"),
      when(col("_q3"), 1).otherwise(0).as("s3")))
  }

  /** Per-user reach from (user_id, s1, s2, s3) 0/1 step flags: the
    * max of each flag. Flags only rise, so the same max merges a
    * stream's per-batch reach emissions.
    */
  def funnelReach(flags: DataFrame): DataFrame =
    flags.groupBy(col("user_id"))
      .agg(max(col("s1")).as("s1"), max(col("s2")).as("s2"),
        max(col("s3")).as("s3"))

  /** The 4-integer experiment relation BOTH A/B tests build on —
    * (n_a, conv_a, n_b, conv_b) as a 1-row DataFrame. Variant by md5
    * coin on the user id (the op-77 determinism convention — both
    * engines replay the same assignment); conversion = any
    * `conversionType` event with value >= minValue. Shared so the
    * difference test ([[abTest]]) and the TOST gate
    * ([[abEquivalence]]) cannot drift off "the same split". One
    * user-keyed agg + one 1-row agg.
    */
  private def perUserSplit(events: DataFrame, conversionType: String,
                           minValue: Double): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(max((col("event_type") === conversionType &&
          col("value") >= minValue).cast("int"))
        .as("conv"))
    val word = conv(substring(md5(concat(lit("ab_"),
      col("user_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val v = perUser.withColumn("va", (word % 2 === 0).cast("int"))
    v.agg(
      sum(col("va")).as("n_a"),
      sum(col("va") * col("conv")).as("conv_a"),
      sum(lit(1) - col("va")).as("n_b"),
      sum((lit(1) - col("va")) * col("conv")).as("conv_b"))
  }

  /** Two-proportion A/B conversion test: variant by md5 coin on the
    * user id (the op-77 determinism convention — both engines replay
    * the same assignment), conversion = any `conversionType` event;
    * pooled two-proportion z from four exact integers. The product
    * experimentation staple: one user-keyed agg + one 2-row agg.
    */
  def abTest(events: DataFrame, conversionType: String,
             minValue: Double = 0.0): DataFrame = {
    val a = perUserSplit(events, conversionType, minValue)
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val pa = col("conv_a") / na; val pb = col("conv_b") / nb
    val pool = (col("conv_a") + col("conv_b")) / (na + nb)
    // degenerate splits (all/none converted, an empty arm) have no
    // defined z — null, not a divide-by-zero under ANSI mode
    val z = when(col("n_a") > 0 && col("n_b") > 0 &&
        pool > 0.0 && pool < 1.0,
      (pa - pb) /
        sqrt(pool * (lit(1.0) - pool) * (lit(1.0) / na + lit(1.0) / nb)))
    a.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(when(col("n_a") > 0, pa), 6).as("rate_a"),
      round(when(col("n_b") > 0, pb), 6).as("rate_b"),
      round(z, 6).as("z_stat"),
      when(abs(round(z, 6)) > 1.96, 1L).otherwise(0L).as("significant_95"))
  }

  /** TOST equivalence gate on the [[abTest]] split — the "no harm"
    * launch question the difference test can't answer (failing to
    * reject ≠ equivalent): two one-sided z's against the margin ±δ on
    * the conversion-rate difference, unpooled SE (the TOST
    * convention); equivalent at 95% ⟺ min(z_lo, z_hi) > 1.645. Same
    * md5 split, same four exact integers.
    */
  def abEquivalence(events: DataFrame, conversionType: String,
                    minValue: Double, delta: Double): DataFrame = {
    val a = perUserSplit(events, conversionType, minValue)
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val pa = col("conv_a") / na; val pb = col("conv_b") / nb
    val se = sqrt(pa * (lit(1.0) - pa) / na + pb * (lit(1.0) - pb) / nb)
    val ok = col("n_a") > 0 && col("n_b") > 0 && se > 0.0
    val diff = pa - pb
    val zLo = when(ok, (diff + delta) / se)
    val zHi = when(ok, (lit(delta) - diff) / se)
    a.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(diff, 6).as("rate_diff"),
      round(zLo, 6).as("z_lower"),
      round(zHi, 6).as("z_upper"),
      when(least(round(zLo, 6), round(zHi, 6)) > 1.645, 1L).otherwise(0L)
        .as("equivalent_95"))
  }

  /** Sample-ratio-mismatch gate (op 373) — the data-quality check
    * every experiment readout runs BEFORE trusting its A/B numbers:
    * the md5 coin targets a 50/50 split, so the observed (n_a, n_b)
    * is tested by a 1-df chi-square goodness-of-fit against equal
    * expected counts. A triggered gate means assignment or logging is
    * broken and the treatment comparison is void (Fabijan et al.
    * 2019's diagnostics hierarchy). Built on the SAME
    * [[perUserSplit]] relation as the two A/B tests, so the gate
    * guards exactly the split they read. Integer counts → the
    * statistic is one exact-rational division; 3.841459 is
    * χ²₀.₉₅(1).
    */
  def srmCheck(events: DataFrame, conversionType: String,
               minValue: Double = 0.0): DataFrame = {
    val a = perUserSplit(events, conversionType, minValue)
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    // chi2 = (na-E)²/E + (nb-E)²/E with E=(na+nb)/2 ⇒ (na-nb)²/(na+nb)
    val chi2 = (na - nb) * (na - nb) / (na + nb)
    a.select(col("n_a"), col("n_b"),
      round(chi2, 6).as("chi2"),
      when(round(chi2, 6) > 3.841459, 1L).otherwise(0L).as("srm_flag"))
  }

  /** CUPED variance-reduced A/B readout (op 374; Deng, Xu, Kohavi &
    * Walker 2013): per-user pre-period metric X and post-period
    * metric Y (1e-6-quantized value sums split at the global time
    * midpoint — both halves of ONE user-keyed agg), θ = cov(X,Y)/
    * var(X) pooled over all users, adjusted metric
    * Ycv = Y − θ·(X − X̄). Reported: raw and CUPED treatment-effect
    * estimates on the same md5 split, plus the variance-reduction
    * factor ρ² (the fraction of metric variance the pre-period
    * covariate removes). Every moment is a DECIMAL sum of exact
    * integers, so θ and the means are identical rationals on both
    * engines; one user-keyed agg + one 1-row agg.
    */
  def cuped(events: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val eUs = events.withColumn("_us", us(col("ts")))
      .withColumn("_qv", floor(col("value") * 1e6 + 0.5).cast("long"))
    // Global midpoint as exact integer µs: the long sum is < 2^53 so
    // the double add/halve/floor chain is exact and engine-identical
    // (a raw long cast would TRUNCATE in Spark but ROUND in DuckDB).
    val mid = eUs.agg(floor((min(col("_us")) + max(col("_us"))) / lit(2.0))
      .cast("long").as("mid_us"))
    val perUser = eUs.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(col("_us") < col("mid_us"), col("_qv")).otherwise(0L))
          .as("x"),
        sum(when(col("_us") >= col("mid_us"), col("_qv")).otherwise(0L))
          .as("y"))
    val word = conv(substring(md5(concat(lit("ab_"),
      col("user_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val v = perUser.withColumn("va", (word % 2 === 0).cast("int"))
    val m = v.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"),
      sum(col("va")).as("n_a"),
      sum(when(col("va") === 1, col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("va") === 1, col("y")).otherwise(0L)).as("sy_a"),
      sum(lit(1) - col("va")).as("n_b"),
      sum(when(col("va") === 0, col("x")).otherwise(0L)).as("sx_b"),
      sum(when(col("va") === 0, col("y")).otherwise(0L)).as("sy_b"))
    def d(c: String) = col(c).cast("double")
    val nD = d("n")
    val covNum = nD * d("sxy") - d("sx") * d("sy")
    val varXNum = nD * d("sxx") - d("sx") * d("sx")
    val varYNum = nD * d("syy") - d("sy") * d("sy")
    val theta = when(varXNum > 0.0, covNum / varXNum)
    val rho2 = when(varXNum > 0.0 && varYNum > 0.0,
      covNum * covNum / (varXNum * varYNum))
    val xBar = d("sx") / nD / 1e6
    val yA = d("sy_a") / d("n_a") / 1e6; val yB = d("sy_b") / d("n_b") / 1e6
    val xA = d("sx_a") / d("n_a") / 1e6; val xB = d("sx_b") / d("n_b") / 1e6
    m.select(col("n"), col("n_a"), col("n_b"),
      round(theta, 6).as("theta"),
      round(yA - yB, 6).as("diff_raw"),
      (round((yA - theta * (xA - xBar)) - (yB - theta * (xB - xBar)), 6)
        + lit(0.0)).as("diff_cuped"),
      round(rho2, 6).as("var_reduction"))
  }

  /** Power-user distribution (op 375) — the L28-style engagement
    * histogram growth teams read weekly: per user the count of
    * DISTINCT active calendar days, then the user count per
    * activity-day level with the standard casual (1–7) / core (8–19)
    * / power (20+) tier label. Two keyed count-distinct aggs;
    * all-integer output.
    */
  def powerUsers(events: DataFrame): DataFrame =
    events.select(col("user_id"), us(date_trunc("day", col("ts"))).as("_d"))
      .distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("active_days"))
      .groupBy(col("active_days")).agg(count(lit(1)).as("n_users"))
      .select(col("active_days"),
        when(col("active_days") >= 20, "power")
          .when(col("active_days") >= 8, "core")
          .otherwise("casual").as("tier"),
        col("n_users"))

  /** Weekly cohort retention: cohort = Monday-truncated week of the
    * user's FIRST `anchorType` event; a user is retained in week
    * offset k if they have ANY event in cohort_week + k. Offsets are
    * exact integer µs arithmetic (UTC session, no DST — a week is
    * always 604800000000 µs). Returns (cohort_us, week_offset,
    * n_active, n_cohort).
    */
  def retention(events: DataFrame, anchorType: String): DataFrame = {
    val firsts = events.where(col("event_type") === anchorType)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"),
        us(date_trunc("week", col("first_ts"))).as("cohort_us"))
    val weekly = events
      .select(col("user_id"), us(date_trunc("week", col("ts"))).as("week_us"))
      .distinct()
    val cohorts = firsts.groupBy(col("cohort_us"))
      .agg(count(lit(1)).as("n_cohort"))
    // firsts and weekly both hash-partition on user_id; cohorts is
    // driver-sized (a handful of Mondays) → broadcast.
    weekly.join(firsts, "user_id")
      .withColumn("week_offset",
        ((col("week_us") - col("cohort_us")) / lit(604800000000L)).cast("long"))
      .where(col("week_offset") >= 0)
      .groupBy(col("cohort_us"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohorts), "cohort_us")
  }

  private val WeekUs = 604800000000L

  /** Weekly growth accounting (Social-Capital convention): per week,
    * users split into new (first-ever active week), retained (active
    * the immediately-preceding week), resurrected (active some earlier
    * week but not the preceding one); churned(w) = users active in
    * w−1 but not in w, attributed to w. The last corpus week emits no
    * churn (nothing after it to be absent from). One distinct
    * (user, week) pass, one lag/lead window over hash(user_id), and a
    * week-keyed count — all integer-exact.
    */
  def lifecycle(events: DataFrame): DataFrame = {
    val weekly = events
      .select(col("user_id"), us(date_trunc("week", col("ts"))).as("week_us"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy(col("week_us"))
    val marked = weekly
      .withColumn("_prev", lag(col("week_us"), 1).over(w))
      .withColumn("_next", lead(col("week_us"), 1).over(w))
    val maxWeek = weekly.groupBy()
      .agg(max(col("week_us")).as("max_week_us"))
    val states = marked.select(col("week_us"),
      when(col("_prev").isNull, lit("new"))
        .when(col("_prev") === col("week_us") - WeekUs, lit("retained"))
        .otherwise(lit("resurrected")).as("state"))
    // churn events: active week w with no activity at w+1 → churned
    // at w+1 (capped at the last observed corpus week)
    val churn = marked
      .where(col("_next").isNull || col("_next") > col("week_us") + WeekUs)
      .select((col("week_us") + WeekUs).as("week_us"),
        lit("churned").as("state"))
      .join(broadcast(maxWeek), col("week_us") <= col("max_week_us"))
      .select(col("week_us"), col("state"))
    states.unionByName(churn)
      .groupBy(col("week_us"))
      .agg(
        sum(when(col("state") === "new", 1).otherwise(0)).as("n_new"),
        sum(when(col("state") === "retained", 1).otherwise(0)).as("n_retained"),
        sum(when(col("state") === "resurrected", 1).otherwise(0))
          .as("n_resurrected"),
        sum(when(col("state") === "churned", 1).otherwise(0)).as("n_churned"))
  }

  /** Marketing attribution of conversions: per conversion event, the
    * last-touch channel = event_type of the most recent non-conversion
    * event STRICTLY before it (same user, within `lookbackUs`), and
    * the first-touch channel = the user's earliest non-conversion
    * event up to the conversion (no lookback — first touch is a
    * lifetime notion); either absent → 'direct'. One hash(user_id)
    * exchange; the per-channel report is driver-sized. Revenue rides
    * as an exact decimal sum so the split replays hash-identically.
    */
  def attribution(events: DataFrame, conversionType: String,
                  lookbackUs: Long): DataFrame =
    attributionReport(conversionTouches(events, conversionType, lookbackUs))

  /** One (last_touch, first_touch, rev) row per conversion event: the
    * kernel of [[attribution]].
    */
  def conversionTouches(events: DataFrame, conversionType: String,
                        lookbackUs: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touchT = when(col("event_type") =!= conversionType, col("event_type"))
    val touchUs = when(col("event_type") =!= conversionType, us(col("ts")))
    events
      .withColumn("_last_ch", last(touchT, ignoreNulls = true).over(w))
      .withColumn("_last_us", last(touchUs, ignoreNulls = true).over(w))
      .withColumn("_first_ch", first(touchT, ignoreNulls = true).over(w))
      .where(col("event_type") === conversionType)
      .select(
        when(col("_last_ch").isNotNull &&
            us(col("ts")) - col("_last_us") <= lookbackUs, col("_last_ch"))
          .otherwise(lit("direct")).as("last_touch"),
        coalesce(col("_first_ch"), lit("direct")).as("first_touch"),
        col("value").as("rev"))
  }

  /** The per-channel report of [[attribution]] over (last_touch,
    * first_touch, rev) conversion rows: last-touch count and exact
    * decimal revenue, first-touch count, either side 0 when absent.
    */
  def attributionReport(conv: DataFrame): DataFrame = {
    val byLast = conv.groupBy(col("last_touch").as("channel"))
      .agg(count(lit(1)).as("n_last_touch"),
        sum(col("rev").cast("decimal(30,10)")).as("_rev_last"))
    val byFirst = conv.groupBy(col("first_touch").as("channel"))
      .agg(count(lit(1)).as("n_first_touch"))
    byLast.join(byFirst, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("n_last_touch"), lit(0L)).as("n_last_touch"),
        round(coalesce(col("_rev_last"), lit(0).cast("decimal(30,10)"))
          .cast("double"), 6).as("rev_last_touch"),
        coalesce(col("n_first_touch"), lit(0L)).as("n_first_touch"))
  }

  /** RFM segmentation on conversion events: per user, recency = whole
    * days between the user's last conversion and the corpus max event
    * time (1-row broadcast), frequency = conversion count, monetary =
    * exact decimal revenue. Scores are FIXED documented thresholds
    * (not quantiles — threshold rules are scale-free, engine-exact,
    * and what production RFM jobs actually pin): r ≤ 7d → 3, ≤ 14d →
    * 2, else 1; f ≥ 10 → 3, ≥ 5 → 2, else 1; m ≥ 500 → 3, ≥ 100 → 2,
    * else 1. Only users with ≥ 1 conversion appear.
    */
  def rfm(events: DataFrame, conversionType: String): DataFrame = {
    val maxTs = events.groupBy().agg(max(us(col("ts"))).as("_max_us"))
    val perUser = events.where(col("event_type") === conversionType)
      .groupBy(col("user_id"))
      .agg(max(us(col("ts"))).as("_last_us"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(30,10)")).as("_mon"))
    perUser.join(broadcast(maxTs))
      .select(col("user_id"),
        ((col("_max_us") - col("_last_us")) / lit(86400000000L))
          .cast("long").as("recency_days"),
        col("frequency"),
        round(col("_mon").cast("double"), 6).as("monetary"),
        col("_mon"))
      .withColumn("r_score",
        when(col("recency_days") <= 7, 3)
          .when(col("recency_days") <= 14, 2).otherwise(1))
      .withColumn("f_score",
        when(col("frequency") >= 10, 3)
          .when(col("frequency") >= 5, 2).otherwise(1))
      .withColumn("m_score",
        when(col("_mon") >= 500, 3)
          .when(col("_mon") >= 100, 2).otherwise(1))
      .withColumn("segment",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        col("segment"))
  }

  /** DAU/WAU/MAU engagement + stickiness — the canonical product
    * health metrics: distinct active users per day, per Monday week,
    * and per calendar month, plus per-day stickiness DAU/MAU (how much
    * of the monthly audience shows up daily). Three keyed
    * count-distinct aggs (each one exchange over (grain, user)) and
    * driver-sized report joins; the ratio is one division of exact
    * integers on the q6 floor grid.
    */
  def dauMau(events: DataFrame): DataFrame = {
    def active(grain: String, outCol: String) = events
      .select(us(date_trunc(grain, col("ts"))).as("_g"), col("user_id"))
      .distinct()
      .groupBy(col("_g")).agg(count(lit(1)).as(outCol))
    val dau = active("day", "dau").withColumnRenamed("_g", "day_us")
    val wau = active("week", "wau").withColumnRenamed("_g", "week_us")
    val mau = active("month", "mau").withColumnRenamed("_g", "month_us")
    dau
      .withColumn("week_us",
        us(date_trunc("week", timestamp_micros(col("day_us")))))
      .withColumn("month_us",
        us(date_trunc("month", timestamp_micros(col("day_us")))))
      .join(broadcast(wau), "week_us")
      .join(broadcast(mau), "month_us")
      .select(col("day_us"), col("dau"), col("wau"), col("mau"),
        (floor(col("dau").cast("double") / col("mau") * 1e6 + lit(0.5))
          / 1e6).as("stickiness"))
  }

  /** Cohort lifetime-value curves — the REVENUE companion of
    * [[retention]]: per (cohort week, week offset), the cohort's
    * conversion revenue that week (exact decimal) and the running
    * cumulative LTV per cohort member. Same user-keyed join shape as
    * retention; the cumulative window runs over the driver-sized
    * (cohort × offset) report relation, not the event log.
    */
  def cohortLtv(events: DataFrame, anchorType: String,
                revenueType: String): DataFrame = {
    val firsts = events.where(col("event_type") === anchorType)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"),
        us(date_trunc("week", col("first_ts"))).as("cohort_us"))
    val cohorts = firsts.groupBy(col("cohort_us"))
      .agg(count(lit(1)).as("n_cohort"))
    val rev = events.where(col("event_type") === revenueType)
      .select(col("user_id"), us(date_trunc("week", col("ts"))).as("week_us"),
        col("value").cast("decimal(30,10)").as("_rev"))
      .join(firsts, "user_id")
      .withColumn("week_offset",
        ((col("week_us") - col("cohort_us")) / lit(WeekUs)).cast("long"))
      .where(col("week_offset") >= 0)
      .groupBy(col("cohort_us"), col("week_offset"))
      .agg(sum(col("_rev")).as("_wrev"))
    val wCum = Window.partitionBy("cohort_us").orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("_cum", sum(col("_wrev")).over(wCum))
      .join(broadcast(cohorts), "cohort_us")
      .select(col("cohort_us"), col("week_offset"),
        (floor(col("_wrev").cast("double") * 1e6 + lit(0.5)) / 1e6)
          .as("period_rev"),
        (floor(col("_cum").cast("double") / col("n_cohort") * 1e6
          + lit(0.5)) / 1e6).as("ltv_per_user"),
        col("n_cohort"))
  }

  /** First-order Markov transition counts between consecutive event
    * types per user (the product-flow / clickstream-path staple):
    * count of each (from_type, to_type) adjacency in per-user
    * (ts, event_id) order, with the row-conditional probability
    * P(to|from). One lag window over hash(user_id), one keyed count;
    * the per-from totals are a types²-sized relation → broadcast
    * join-back. Probability = one division of identical integers on
    * both engines (round-6), so the replay hash-matches.
    */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    transitionReport(events
      .withColumn("_from", lag(col("event_type"), 1).over(w))
      .where(col("_from").isNotNull)
      .select(col("_from").as("from_type"), col("event_type").as("to_type")))
  }

  /** The count/probability report of [[transitions]] over one
    * (from_type, to_type) row per adjacency.
    */
  def transitionReport(adjacencies: DataFrame): DataFrame = {
    val pairs = adjacencies.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("_total"))
    // floor(x·1e6+0.5)/1e6, not round(x,6): the same deterministic
    // IEEE ops on the same double both engines (the q6 convention)
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (floor(col("n").cast("double") / col("_total") * 1e6 + lit(0.5))
          / 1e6).as("p"))
  }

  /** Open-interval sentinel for the current SCD2 row (3000-01-01 in
    * epoch µs) — a literal instead of NULL so the driver's hash
    * compare never sees engine-specific NULL encodings. */
  val OpenUs = 32503680000000000L

  /** SCD2 compaction of a change log: treat each event as "user's
    * state became `event_type` at ts", drop no-op repeats (state equal
    * to the previous state), and emit validity intervals
    * [valid_from_us, valid_to_us) with `is_current` on the open row.
    * The CDC→dimension build every lakehouse runs: two windows over
    * one hash(user_id) exchange — the run-compression lag() and, on
    * the surviving rows only, the interval lead().
    */
  def scd2(events: DataFrame): DataFrame = flagCurrent(scd2Intervals(events))

  /** The (user_id, state, valid_from_us, valid_to_us) intervals of
    * [[scd2]], before the open-row flag.
    */
  def scd2Intervals(events: DataFrame): DataFrame = {
    // epoch-µs is monotone with ts, so ordering by valid_from_us is the
    // same (ts, event_id) total order after the rename below
    val wAll = Window.partitionBy("user_id")
      .orderBy(col("valid_from_us"), col("event_id"))
    val kept = events
      .select(col("user_id"), col("event_type").as("state"),
        us(col("ts")).as("valid_from_us"), col("event_id"))
      .withColumn("_prev", lag(col("state"), 1).over(wAll))
      .where(col("_prev").isNull || col("_prev") =!= col("state"))
    val wKept = Window.partitionBy("user_id")
      .orderBy(col("valid_from_us"), col("event_id"))
    kept
      .withColumn("valid_to_us",
        coalesce(lead(col("valid_from_us"), 1).over(wKept), lit(OpenUs)))
      .select(col("user_id"), col("state"), col("valid_from_us"),
        col("valid_to_us"))
  }

  /** SCD2 intervals with `is_current` set on the open row. */
  def flagCurrent(intervals: DataFrame): DataFrame =
    intervals.select(col("user_id"), col("state"), col("valid_from_us"),
      col("valid_to_us"), (col("valid_to_us") === OpenUs).as("is_current"))

  /** Per-segment A/B lift (op 398) — the heterogeneous-treatment-
    * effect readout after the op-350 global test: the SAME md5 split
    * and conversion definition, broken out by a user segment (their
    * FIRST event's props `k` quartile — a stable pre-treatment
    * covariate, so segmenting doesn't bias the split). One pooled z
    * per segment from four exact integers, exactly op 350's algebra
    * on the segment-keyed relation.
    */
  def abTestBySegment(events: DataFrame, conversionType: String,
                      minValue: Double): DataFrame = {
    val wFirst = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val seg = events
      .withColumn("_rn", row_number().over(wFirst))
      .where(col("_rn") === 1)
      .select(col("user_id"),
        floor(regexp_extract(col("props"), "[0-9]+", 0).cast("int")
          / lit(25.0)).cast("long").as("segment"))
    val perUser = events.groupBy(col("user_id"))
      .agg(max((col("event_type") === conversionType &&
          col("value") >= minValue).cast("int")).as("conv"))
    val word = conv(substring(md5(concat(lit("ab_"),
      col("user_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val v = perUser.withColumn("va", (word % 2 === 0).cast("int"))
      .join(seg, "user_id")
    val a = v.groupBy(col("segment")).agg(
      sum(col("va")).as("n_a"),
      sum(col("va") * col("conv")).as("conv_a"),
      sum(lit(1) - col("va")).as("n_b"),
      sum((lit(1) - col("va")) * col("conv")).as("conv_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val pa = col("conv_a") / na; val pb = col("conv_b") / nb
    val pool = (col("conv_a") + col("conv_b")) / (na + nb)
    val z = when(col("n_a") > 0 && col("n_b") > 0 &&
        pool > 0.0 && pool < 1.0,
      (pa - pb) /
        sqrt(pool * (lit(1.0) - pool) * (lit(1.0) / na + lit(1.0) / nb)))
    a.select(col("segment"), col("n_a"), col("conv_a"), col("n_b"),
      col("conv_b"),
      round(when(col("n_a") > 0 && col("n_b") > 0, pa - pb), 6)
        .as("rate_diff"),
      round(z, 6).as("z_stat"))
  }

  /** Markov removal-effect attribution (op 388; Anderl, Becker,
    * von Wangenheim & Schumann 2014) — the data-driven alternative to
    * the op-335 heuristic rules: model journeys as a first-order
    * chain (start → touches → conv | null), compute the chain's
    * conversion-absorption probability, then for each channel the
    * probability with that channel REMOVED (its in-edges become lost
    * mass — the standard convention, so removal is monotone
    * decreasing); a channel's credit is its removal effect
    * 1 − P₋c/P, normalized over channels.
    *
    * Journeys cut at the FIRST conversion; non-converters close with
    * last-touch → null. The absorption system (I − Q)x = b is solved
    * DIRECTLY by Gaussian elimination in a fixed pivot order
    * (channels sorted by name, 'start' last) — exact to IEEE-double
    * precision (~1e−14) instead of the r13 24 quantized fixed-point
    * sweeps (whose ρ²⁴ ≈ 0.005 truncation this removes). The whole
    * solve is ONE projection over ONE row: the (f, t, n) transition
    * counts collect into one list, [[graft.functions.denseGrid]] lays
    * them out as k rows of k + 2 integer counts (the k transient
    * states, then conv and null), and each removal variant builds its
    * augmented matrix [I − Q | b] as an array of rows and eliminates
    * with `aggregate` over `transform` — zero joins, zero checkpoints.
    * More than SMAX transient states raise before any solve work.
    *
    * Cross-engine bit-parity holds WITHOUT an integer grid because
    * every arithmetic step is a SCALAR double expression in a fixed
    * order — cast(int64→double), multiply, divide, subtract — with
    * no multi-row floating sum anywhere (the one SUM in the
    * pipeline, the transition count, is integer); IEEE 754 makes
    * those deterministic on any engine, unlike aggregate-order-
    * dependent double sums. No pivoting is needed: I − Q of an
    * absorbing chain is a nonsingular M-matrix, so every leading
    * principal minor — every pivot this order meets — is strictly
    * positive. All chain relations are (channels+2)²-row —
    * driver-sized at ANY event volume; the only full-data passes are
    * the two journey windows and one transition count, all on the
    * hash(user_id) exchange.
    */
  def markovAttribution(events: DataFrame, conversionType: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val isConv = col("event_type") === conversionType
    val kept = events
      .withColumn("_cc", sum(when(isConv, 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where((!isConv && col("_cc") === 0) || (isConv && col("_cc") === 1))
      .withColumn("state",
        when(isConv, lit("conv")).otherwise(col("event_type")))
    // ONE window pass emits both edge kinds per row — the lag edge
    // (prev|start → state) always, plus (state → null) on a
    // non-converter's last row — via a 2-element explode, so the
    // event relation is scanned/sorted once (the r13 steps ∪ tails
    // union executed the journey windows twice, with a second desc
    // sort). lag/lead/didconv all ride the same hash(user_id)
    // exchange and the one (ts, event_id) sort; didconv's unordered
    // whole-partition window needs no sort of its own.
    val e2 = kept
      .withColumn("f", coalesce(lag(col("state"), 1).over(w), lit("start")))
      .withColumn("nxt", lead(col("state"), 1).over(w))
      .withColumn("didconv",
        max(when(col("state") === "conv", 1).otherwise(0))
          .over(Window.partitionBy("user_id")))
    val edges = e2.select(explode(array(
        struct(col("f"), col("state").as("t")),
        struct(col("state").as("f"),
          when(col("nxt").isNull && col("didconv") === 0, lit("null"))
            .as("t")))).as("e"))
      .select(col("e.f").as("f"), col("e.t").as("t"))
      .where(col("t").isNotNull)
    // the chain as (channels+2)² integer counts — driver-sized at any
    // event volume, gathered into ONE row for the solve below
    val trans = edges
      .groupBy(col("f"), col("t")).agg(count(lit(1)).as("n"))
    // fixed pivot order: channels by name, 'start' LAST — after forward
    // elimination the start row alone yields x_start. conv and null key
    // after every state, so they close each row of the count grid as
    // the b column and the lost mass.
    val key = (s: Column) => concat(when(s === "start", lit("1"))
      .when(s.isin("conv", "null"), lit("2")).otherwise(lit("0")), s)
    val l = col("l")
    val names = filter(concat(transform(l, _("f")), transform(l, _("t"))),
      s => !s.isin("conv", "null"))
    val entries = transform(l, x => gridEntry(key(x("f")), key(x("t")), x("n")))
    val report = let(array_sort(array_distinct(
        transform(names, s => struct(key(s).as("key"), s.as("state")))))) {
        st =>
      val k = size(st)
      val keys = transform(st, _("key"))
      // k rows of k+2 integer counts: Q, then b (conv), then the null mass
      val counts = let(concat(keys, array(lit("2conv"), lit("2null")))) {
        cols => denseGrid(keys, cols, entries, lit(0L)) }
      when(k > SMAX, raise_error(concat(lit("markovAttribution: "),
          k.cast("string"), lit(s" transient states exceed the SMAX=$SMAX " +
            "bound of the one-row k-by-k solve"))))
        .otherwise(let(counts) { g =>
          // exact integer row totals — order-free on any engine
          let(transform(g, r => aggregate(r, lit(0L), _ + _))) { tot =>
            // q_ij = n/tot as an int64→double cast + one IEEE divide.
            // Variant rv = 0 keeps the full chain; rv = r zeroes every
            // edge touching position r (1-based), leaving an identity
            // row. Denominators stay the ORIGINAL totals — the removed
            // mass is lost, the standard convention, so removal is
            // monotone decreasing.
            def q(gate: Column, i: Column, n: Column): Column =
              when(gate, lit(0.0)).otherwise(when(tot(i) > 0,
                n.cast("double") / tot(i).cast("double")).otherwise(lit(0.0)))
            // augmented matrix A = [I − Q | b] of variant rv
            def a0(rv: Column): Column = transform(g, (r, i) => concat(
              transform(slice(r, lit(1), k), (n, j) =>
                when(i === j, lit(1.0)).otherwise(lit(0.0)) -
                  q(rv === i + 1 || rv === j + 1, i, n)),
              array(q(rv === i + 1, i, r(k)))))
            // forward elimination: pivot p rewrites cells (i > p, j > p),
            // the rhs included, as a_ij − a_ip·a_pj/a_pp. Sub-pivot cells
            // keep stale values — never read again. A 1-state chain has
            // nothing to eliminate (its one pivot reaches no row).
            def eliminate(m: Column): Column =
              aggregate(sequence(lit(0), greatest(k - 2, lit(0))), m, (a, p) =>
                transform(a, (r, i) => when(i > p, transform(r, (x, j) =>
                    when(j > p, x - r(p) * a(p)(j) / a(p)(p)).otherwise(x)))
                  .otherwise(r)))
            // the start row (last) is fully reduced: a_kk·x_start = b_k,
            // landed on the op-317 1e-9 grid (round-half-up)
            let(transform(st, (_, rv) => let(eliminate(a0(rv))) { a =>
                floor(a(k - 1)(k) / a(k - 1)(k - 1) * 1e9 + 0.5).cast("long")
              })) { pq =>
              // removal effects on the 1e-6 grid as exact integer
              // micro-units, so the normalization sum is INTEGER — no
              // order can perturb it (a double sum's cross-engine hazard)
              val pf = pq(0)
              let(transform(filter(pq, (_, rv) => rv > 0), p =>
                  when(pf > 0, floor((lit(1.0) - p.cast("double")
                      / pf.cast("double")) * 1e6 + 0.5).cast("long"))
                    .otherwise(lit(0L)))) { rei =>
                let(aggregate(rei, lit(0L), _ + _)) { reSum =>
                  transform(rei, (re, c) => struct(
                    st(c)("state").as("channel"),
                    (pf.cast("double") / 1e9).as("p_full"),
                    (pq(c + 1).cast("double") / 1e9).as("p_removed"),
                    (re.cast("double") / 1e6).as("removal_effect"),
                    when(reSum > 0, floor(re.cast("double") /
                      reSum.cast("double") * 1e6 + 0.5) / 1e6)
                      .as("attribution")))
                }
              }
            }
          }
        })
    }
    trans.agg(collect_list(struct(col("f"), col("t"), col("n"))).as("l"))
      .select(inline(report))
  }
}
