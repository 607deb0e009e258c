package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Events

/** Pins the product-analytics trio (SURVEY §2 ops 330-332): strict
  * funnel ordering, weekly cohort retention arithmetic, and SCD2
  * run-compression with the open-interval sentinel.
  */
class EventsSpec extends SparkSpec {
  import spark.implicits._

  private def t(day: Int, hour: Int, min: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:$min%02d:00")

  private def ev(rows: (Long, Timestamp, Long, String)*) =
    rows.toDF("event_id", "ts", "user_id", "event_type")

  test("funnel: step-2 counts only strictly after the first step-1") {
    val df = ev(
      // user 1: full ordered funnel
      (1L, t(1, 9), 1L, "signup"), (2L, t(1, 10), 1L, "click"),
      (3L, t(1, 11), 1L, "purchase"),
      // user 2: click BEFORE signup — step 2 must not count
      (4L, t(1, 9), 2L, "click"), (5L, t(1, 10), 2L, "signup"),
      // user 3: signup+purchase but no intervening click — stops at s1
      (6L, t(1, 9), 3L, "signup"), (7L, t(1, 10), 3L, "purchase"))
    val r = Events.funnelFlags(df, "signup", "click", "purchase")
      .orderBy($"user_id").collect()
    assert(r.map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3)))
      .toSeq == Seq((1L, 1, 1, 1), (2L, 1, 0, 0), (3L, 1, 0, 0)))
  }

  test("funnel: a later qualifying step-1 does not resurrect an early step-2") {
    // click at 10:00 sits between two signups (9:00, 11:00): it is
    // after the EARLIEST signup, so it qualifies; purchase at 10:30
    // follows the qualifying click.
    val df = ev(
      (1L, t(1, 9), 1L, "signup"), (2L, t(1, 10), 1L, "click"),
      (3L, t(1, 10, 30), 1L, "purchase"), (4L, t(1, 11), 1L, "signup"))
    val r = Events.funnelFlags(df, "signup", "click", "purchase").collect()
    assert(r.head.getInt(1) == 1 && r.head.getInt(2) == 1 &&
      r.head.getInt(3) == 1)
  }

  test("retention: weekly offsets from the Monday-truncated first anchor") {
    // 2024-01-01 is a Monday. user 1 signs up week 0, active weeks 0 and 2;
    // user 2 signs up week 0, active week 0 only.
    val df = ev(
      (1L, t(2, 9), 1L, "signup"), (2L, t(16, 9), 1L, "view"),
      (3L, t(3, 9), 2L, "signup"))
    val r = Events.retention(df, "signup")
      .orderBy($"week_offset").collect()
    val rows = r.map(x => (x.getLong(1), x.getLong(2), x.getLong(3))).toSeq
    // (week_offset, n_active, n_cohort)
    assert(rows == Seq((0L, 2L, 2L), (2L, 1L, 2L)))
    val mondayUs = 1704067200000000L // 2024-01-01T00:00Z
    assert(r.forall(_.getLong(0) == mondayUs))
  }

  test("scd2: no-op repeats compress; intervals chain; open row flagged") {
    val df = ev(
      (1L, t(1, 9), 1L, "free"), (2L, t(1, 10), 1L, "free"), // repeat drops
      (3L, t(1, 11), 1L, "paid"), (4L, t(1, 12), 1L, "free"))
    val r = Events.scd2(df).orderBy($"valid_from_us").collect()
    assert(r.length == 3)
    assert(r.map(_.getString(1)).toSeq == Seq("free", "paid", "free"))
    // intervals chain: each valid_to = next valid_from
    assert(r(0).getLong(3) == r(1).getLong(2))
    assert(r(1).getLong(3) == r(2).getLong(2))
    assert(r(2).getLong(3) == Events.OpenUs)
    assert(r.map(_.getBoolean(4)).toSeq == Seq(false, false, true))
  }

  test("lifecycle: new/retained/resurrected/churned accounting") {
    // weeks (Mondays): Jan 1, Jan 8, Jan 15, Jan 22.
    // user 1 active w0, w1, w3  → new@w0, retained@w1, churned@w2,
    //   resurrected@w3
    // user 2 active w0 only     → new@w0, churned@w1
    // user 3 active w3 only     → new@w3, NO churn (nothing after w3)
    val df = ev(
      (1L, t(2, 9), 1L, "view"), (2L, t(9, 9), 1L, "view"),
      (3L, t(23, 9), 1L, "view"),
      (4L, t(3, 9), 2L, "view"),
      (5L, t(24, 9), 3L, "view"))
    val r = Events.lifecycle(df).orderBy($"week_us").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    // (n_new, n_retained, n_resurrected, n_churned) per week
    assert(r.toSeq == Seq(
      (2L, 0L, 0L, 0L),  // w0: users 1,2 new
      (0L, 1L, 0L, 1L),  // w1: user 1 retained, user 2 churned
      (0L, 0L, 0L, 1L),  // w2: user 1 churned
      (1L, 0L, 1L, 0L))) // w3: user 3 new, user 1 resurrected
  }

  test("attribution: last-touch respects the lookback, first-touch doesn't") {
    val df = Seq(
      // user 1: click then purchase within a day → last=click, first=click
      (1L, t(10, 9), 1L, "click", 50.0),
      (2L, t(10, 10), 1L, "purchase", 50.0),
      // user 2: view on day 1, purchase day 20 (outside 7d lookback)
      // → last=direct, first=view (lifetime)
      (3L, t(1, 9), 2L, "view", 10.0),
      (4L, t(20, 9), 2L, "purchase", 10.0),
      // user 3: purchase with no prior touch at all → direct/direct
      (5L, t(5, 9), 3L, "purchase", 7.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.attribution(df, "purchase", 604800000000L)
      .orderBy($"channel").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2), x.getLong(3)))
    assert(r.toSeq == Seq(
      ("click", 1L, 50.0, 1L),
      ("direct", 2L, 17.0, 1L),
      ("view", 0L, 0.0, 1L)))
  }

  test("funnel window: a step outside the gap doesn't count, within does") {
    val df = ev(
      // user 1: click 2 days after signup (inside 3d), purchase 1 day
      // after click → full reach
      (1L, t(1, 9), 1L, "signup"), (2L, t(3, 9), 1L, "click"),
      (3L, t(4, 9), 1L, "purchase"),
      // user 2: click 5 days after signup (outside 3d) → stops at s1
      (4L, t(1, 9), 2L, "signup"), (5L, t(6, 9), 2L, "click"))
    val r = Events.funnelFlags(df, "signup", "click", "purchase",
        maxGapUs = Some(259200000000L))
      .orderBy($"user_id").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3)))
    assert(r.toSeq == Seq((1L, 1, 1, 1), (2L, 1, 0, 0)))
  }

  test("abTest: deterministic md5 split, exact counts, pooled z") {
    val df = Seq(
      (1L, t(1, 9), 1L, "purchase", 200.0),
      (2L, t(1, 9), 2L, "purchase", 10.0), // below minValue → no conv
      (3L, t(1, 9), 3L, "view", 200.0),
      (4L, t(1, 9), 4L, "purchase", 180.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.abTest(df, "purchase", minValue = 150.0).collect().head
    // split + counts are a pure function of md5(user_id)
    assert(r.getLong(0) + r.getLong(2) == 4L)       // all users assigned
    assert(r.getLong(1) + r.getLong(3) == 2L)       // users 1 and 4 convert
    // pooled z recomputed directly from the four integers
    val (na, ca, nb, cb) =
      (r.getLong(0).toDouble, r.getLong(1).toDouble,
        r.getLong(2).toDouble, r.getLong(3).toDouble)
    val pool = (ca + cb) / (na + nb)
    if (na > 0 && nb > 0 && pool > 0 && pool < 1) {
      val z = (ca / na - cb / nb) /
        math.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
      assert(math.abs(r.getDouble(6) - math.rint(z * 1e6) / 1e6) < 1e-9)
    } else assert(r.isNullAt(6))
  }

  test("cohortLtv: weekly revenue and running per-member LTV") {
    val df = Seq(
      // 2024-01-01 is Monday. Both users sign up week 0.
      (1L, t(2, 9), 1L, "signup", 0.0),
      (2L, t(3, 9), 2L, "signup", 0.0),
      // week 0: user 1 buys 10; week 2: both buy (20 + 30)
      (3L, t(4, 9), 1L, "purchase", 10.0),
      (4L, t(16, 9), 1L, "purchase", 20.0),
      (5L, t(17, 9), 2L, "purchase", 30.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.cohortLtv(df, "signup", "purchase")
      .orderBy($"week_offset").collect()
      .map(x => (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getLong(4)))
    // (offset, period_rev, ltv_per_user, n_cohort)
    assert(r.toSeq == Seq((0L, 10.0, 5.0, 2L), (2L, 50.0, 30.0, 2L)))
  }

  test("transitions: per-user adjacencies with conditional probability") {
    val df = ev(
      (1L, t(1, 9), 1L, "view"), (2L, t(1, 10), 1L, "click"),
      (3L, t(1, 11), 1L, "view"),
      (4L, t(1, 9), 2L, "view"), (5L, t(1, 10), 2L, "click"),
      (6L, t(1, 11), 2L, "purchase"))
    val r = Events.transitions(df)
      .orderBy($"from_type", $"to_type").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3)))
    // view→click twice (p=1 from view), click→view once, click→purchase
    // once (p=0.5 each from click); NO cross-user adjacency (user 1's
    // last view never chains to user 2's first view)
    assert(r.toSeq == Seq(
      ("click", "purchase", 1L, 0.5), ("click", "view", 1L, 0.5),
      ("view", "click", 2L, 1.0)))
  }

  test("rfm: recency/frequency/monetary with fixed threshold scores") {
    val df = Seq(
      // corpus max ts = Jan 30. user 1: last purchase Jan 29 (1 day),
      // 5 purchases of 120 → r=3, f=2, m=3
      (1L, t(25, 9), 1L, "purchase", 120.0),
      (2L, t(26, 9), 1L, "purchase", 120.0),
      (3L, t(27, 9), 1L, "purchase", 120.0),
      (4L, t(28, 9), 1L, "purchase", 120.0),
      (5L, t(29, 9), 1L, "purchase", 120.0),
      // user 2: one purchase of 50 on Jan 10 (20 days) → r=1, f=1, m=1
      (6L, t(10, 9), 2L, "purchase", 50.0),
      // user 3: views only → excluded
      (7L, t(30, 9), 3L, "view", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.rfm(df, "purchase").orderBy($"user_id").collect()
    assert(r.length == 2)
    val u1 = r(0)
    assert(u1.getLong(1) == 1L && u1.getLong(2) == 5L &&
      u1.getDouble(3) == 600.0)
    assert(u1.getInt(4) == 3 && u1.getInt(5) == 2 && u1.getInt(6) == 3 &&
      u1.getString(7) == "323")
    val u2 = r(1)
    assert(u2.getLong(1) == 20L && u2.getInt(4) == 1 && u2.getInt(5) == 1 &&
      u2.getInt(6) == 1 && u2.getString(7) == "111")
  }

  test("markov: a chain without channels gives no rows and no error") {
    // no events at all (k = 0), and only first-touch purchases, where
    // 'start' is the one transient state (k = 1): nothing to credit
    val none = ev()
    val startOnly = ev((1L, t(1, 9), 1L, "purchase"),
      (2L, t(1, 9), 2L, "purchase"), (3L, t(1, 10), 2L, "click"))
    for (df <- Seq(none, startOnly))
      assert(Events.markovAttribution(df, "purchase").collect().isEmpty)
    // one channel: removing it loses every conversion → full credit
    val one = Events.markovAttribution(ev((1L, t(1, 9), 1L, "click"),
      (2L, t(1, 10), 1L, "purchase"), (3L, t(1, 9), 2L, "click")), "purchase")
      .collect()
    assert(one.length == 1 && one(0).getString(0) == "click" &&
      one(0).getDouble(1) == 0.5 && one(0).getDouble(2) == 0.0 &&
      one(0).getDouble(3) == 1.0 && one(0).getDouble(4) == 1.0)
  }
}
