package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin

/** As-of joins. */
object AsOfQueries {

  val registry: Seq[(String, Registration)] = Seq(
    "asof_join" -> Query((s, dir) => {
      val e = events(s, dir)
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("quote_value"))
      AsOfJoin.backward(trades, quotes, "user_id", "ts", Seq("quote_id", "quote_value"))
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("trade_value"),
          col("right_quote_id").as("quote_id"),
          round(col("right_quote_value"), 6).as("quote_value"))
    },
      """WITH t AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
          |q AS (SELECT user_id, ts, event_id AS quote_id, value AS quote_value FROM events WHERE event_type = 'view')
          |SELECT t.user_id, t.event_id, round(t.value, 6) AS trade_value,
          |       q.quote_id, round(q.quote_value, 6) AS quote_value
          |FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts
          |ORDER BY t.event_id""".stripMargin),
    "asof_join_forward" -> Query((s, dir) => {
      val e = events(s, dir)
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("quote_value"))
      AsOfJoin.forward(trades, quotes, "user_id", "ts", Seq("quote_id", "quote_value"))
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("trade_value"),
          col("right_quote_id").as("quote_id"),
          round(col("right_quote_value"), 6).as("quote_value"))
    },
      """WITH t AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
          |q AS (SELECT user_id, ts, event_id AS quote_id, value AS quote_value FROM events WHERE event_type = 'view')
          |SELECT t.user_id, t.event_id, round(t.value, 6) AS trade_value,
          |       q.quote_id, round(q.quote_value, 6) AS quote_value
          |FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts <= q.ts
          |ORDER BY t.event_id""".stripMargin),
    // Nearest as-of (op 231, polars strategy="nearest" — the third
    // join_asof strategy, completing ops 42/122): smallest absolute
    // time distance wins, ties to the backward match.
    "asof_join_nearest" -> Query((s, dir) => {
      val e = events(s, dir)
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("quote_value"))
      AsOfJoin.nearest(trades, quotes, "user_id", "ts",
          Seq("quote_id", "quote_value"))
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("trade_value"),
          col("right_quote_id").as("quote_id"),
          round(col("right_quote_value"), 6).as("quote_value"),
          col("right_dist_us").as("dist_us"))
    },
      // op 231: both directional ASOF joins composed by the left's
      // unique event_id, the same ≤ tie-break to backward.
      """WITH t AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
          |q AS (SELECT user_id, ts, event_id AS quote_id, value AS quote_value FROM events WHERE event_type = 'view'),
          |b AS (SELECT t.user_id, t.event_id, t.value, t.ts,
          |        q.quote_id AS b_id, q.quote_value AS b_val, q.ts AS b_ts
          |      FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts),
          |f AS (SELECT t.event_id, q.quote_id AS f_id, q.quote_value AS f_val, q.ts AS f_ts
          |      FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts <= q.ts),
          |j AS (SELECT b.*, f.f_id, f.f_val, f.f_ts FROM b JOIN f USING (event_id)),
          |sel AS (
          |  SELECT user_id, event_id, value,
          |    (f_ts IS NULL OR (b_ts IS NOT NULL AND
          |       epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts))) AS use_b,
          |    b_id, b_val, epoch_us(ts) - epoch_us(b_ts) AS b_age,
          |    f_id, f_val, epoch_us(f_ts) - epoch_us(ts) AS f_age
          |  FROM j
          |)
          |SELECT user_id, event_id, round(value, 6) AS trade_value,
          |  CASE WHEN use_b THEN b_id ELSE f_id END AS quote_id,
          |  round(CASE WHEN use_b THEN b_val ELSE f_val END, 6) AS quote_value,
          |  CASE WHEN use_b THEN b_age ELSE f_age END AS dist_us
          |FROM sel ORDER BY event_id""".stripMargin),
    // Tolerance-bounded as-of (SURVEY §2 op 122): same trade↔quote
    // alignment, but a quote older than 1 day is no match — the
    // stale-quote guard. Mixed outcome by construction (median age in
    // the testdata is ~1.4 days, p10 ~6 h).
    "asof_join_tolerance" -> Query((s, dir) => {
      val e = events(s, dir)
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("quote_id"), col("value").as("quote_value"))
      AsOfJoin.backwardWithin(trades, quotes, "user_id", "ts",
          Seq("quote_id", "quote_value"), maxAgeUs = 86400L * 1000000L)
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("trade_value"),
          col("right_quote_id").as("quote_id"),
          round(col("right_quote_value"), 6).as("quote_value"),
          col("right_age_us").as("age_us"))
    },
      // Tolerance-bounded as-of: ASOF match, then a stale (> 1 day)
      // match reverts to the null outcome — mirrors backwardWithin.
      """WITH t AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
          |q AS (SELECT user_id, ts, event_id AS quote_id, value AS quote_value FROM events WHERE event_type = 'view'),
          |j AS (SELECT t.user_id, t.event_id, t.value, q.quote_id, q.quote_value,
          |      epoch_us(t.ts) - epoch_us(q.ts) AS age_us
          |      FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts)
          |SELECT user_id, event_id, round(value, 6) AS trade_value,
          |  CASE WHEN age_us <= 86400000000 THEN quote_id END AS quote_id,
          |  CASE WHEN age_us <= 86400000000 THEN round(quote_value, 6) END AS quote_value,
          |  CASE WHEN age_us <= 86400000000 THEN age_us END AS age_us
          |FROM j ORDER BY event_id""".stripMargin),
    "asof_latency" -> Query((s, dir) => {
      val e = events(s, dir)
      val trades = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val quotes = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("ts").as("quote_ts"))
      AsOfJoin.backward(trades, quotes, "user_id", "ts", Seq("quote_ts"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_trades"),
          // Exact integer sum / non-null count, quantized to whole µs
          // BEFORE the 1e6 rescale (round(x,6) on a ~1e10-µs-derived
          // average hits 1-ulp engine disagreement; floor(avg+0.5) is
          // the same IEEE ops on both engines).
          (floor(sum(graft.functions.Quote.quoteLatencyUs(col("ts"), col("right_quote_ts")))
              .cast("double") /
            count(graft.functions.Quote.quoteLatencyUs(col("ts"), col("right_quote_ts")))
            + lit(0.5)).cast("long") / 1e6)
            .as("avg_latency_s"))
    },
      """WITH t AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
          |q AS (SELECT user_id, ts AS qts FROM events WHERE event_type = 'view')
          |SELECT t.user_id, count(*) AS n_trades,
          |  CAST(floor(CAST(sum(epoch_us(t.ts) - epoch_us(q.qts)) AS DOUBLE)
          |        / count(epoch_us(t.ts) - epoch_us(q.qts)) + 0.5) AS BIGINT) / 1e6 AS avg_latency_s
          |FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.qts
          |GROUP BY t.user_id ORDER BY t.user_id""".stripMargin)
  )
}
