package graft
package queries

import org.apache.spark.sql.functions._

import graft.sim.MarketSim

/** The distributed quote/trade market simulator. */
object SimQueries {

  val registry: Seq[(String, Registration)] = Seq(

    // ---- simulator (ops 40-41; rows-only)
    // Oracle-backed: the sim's randomness is md5-per-row + window
    // cumsum, so DuckDB replays the identical walk (ts as epoch-µs and
    // BIGINT casts per the parity conventions).
    "sim_quotes" -> Query((s, dir) =>
      MarketSim.simulateQuotes(s, "SIM", days = 2, ticksPerDay = 5000)
        .select(col("ticker"), unix_micros(col("ts")).as("ts_us"),
          col("bid"), col("ask"), col("bid_size"), col("ask_size"),
          col("exchange").cast("long").as("exchange"), col("day")),
      s"""WITH $QUOTES_CTE
          |SELECT ticker, ts_us, bid, ask, bid_size, ask_size, exchange, day
          |FROM quotes ORDER BY day, ts_us, bid""".stripMargin),
    "sim_trades" -> Query((s, dir) =>
      MarketSim.simulateTrades(
          MarketSim.simulateQuotes(s, "SIM", days = 2, ticksPerDay = 5000),
          targetVolumePerDay = 1000000L)
        .select(col("ticker"), unix_micros(col("ts")).as("ts_us"),
          col("price"), col("size"), col("side").cast("long").as("side"),
          col("exchange").cast("long").as("exchange"), col("day")),
      s"""WITH $QUOTES_CTE, th AS (
          |  SELECT *, md5('42_' || ticker || '_' || ts_us || '_take') AS h_take,
          |    md5('42_' || ticker || '_' || ts_us || '_side') AS h_side,
          |    md5('42_' || ticker || '_' || ts_us || '_sz') AS h_sz
          |  FROM quotes
          |), tu AS (
          |  SELECT *,
          |    ${w8("h_take")} / 4294967296.0 AS u_take,
          |    ${w8("h_side")} / 4294967296.0 AS u_side,
          |    ${w8("h_sz")} / 4294967296.0 AS u_sz
          |  FROM th
          |), tf AS (SELECT * FROM tu WHERE u_take < 0.1),
          |tn AS (
          |  SELECT *, count(*) OVER (PARTITION BY ticker, day) AS npd FROM tf
          |)
          |SELECT ticker, ts_us,
          |  CASE WHEN u_side < 0.5 THEN ask ELSE bid END AS price,
          |  CAST(floor(1000000 / npd * (0.5 + u_sz)) AS BIGINT) AS size,
          |  CAST(CASE WHEN u_side < 0.5 THEN 1 ELSE -1 END AS BIGINT) AS side,
          |  exchange, day
          |FROM tn ORDER BY day, ts_us, price""".stripMargin),
    // Whole-universe generation: tickers × days × ticks in ONE plan
    // (walk window partitioned by (ticker, day)) — the shape the
    // reference's per-symbol loop (sim/quotes.py:22) can't express.
    "sim_quotes_universe" -> Query((s, dir) =>
      MarketSim.simulateQuotes(s, Seq("AAA", "BBB", "CCC"), days = 2,
          ticksPerDay = 2000, seed = 42L)
        .select(col("ticker"), unix_micros(col("ts")).as("ts_us"),
          col("bid"), col("ask"), col("bid_size"), col("ask_size"),
          col("exchange").cast("long").as("exchange"), col("day")),
      s"""WITH ${quotesCteFor(Seq("AAA", "BBB", "CCC"), 2, 2000)}
          |SELECT ticker, ts_us, bid, ask, bid_size, ask_size, exchange, day
          |FROM quotes ORDER BY ticker, day, ts_us""".stripMargin),
    // Full reference quote schema (sim/quotes.py:72-91): conditions/
    // indicators/tape + sequence/sip/trf timestamps, all md5-replayable.
    "sim_quotes_full" -> Query((s, dir) =>
      MarketSim.simulateQuotes(s, "SIM", days = 2, ticksPerDay = 5000)
        .select(col("ticker"), unix_micros(col("ts")).as("ts_us"),
          col("bid"), col("ask"), col("bid_size"), col("ask_size"),
          col("exchange").cast("long").as("exchange"), col("day"),
          col("bid_exchange").cast("long").as("bid_exchange"),
          col("conditions"), col("indicators"),
          col("participant_timestamp"), col("sequence_number"),
          col("sip_timestamp"), col("tape").cast("long").as("tape"),
          col("trf_timestamp")),
      s"""WITH $QUOTES_CTE
          |SELECT ticker, ts_us, bid, ask, bid_size, ask_size, exchange, day,
          |  bid_exchange, conditions, indicators, participant_timestamp,
          |  sequence_number, sip_timestamp, tape, trf_timestamp
          |FROM quotes ORDER BY day, ts_us, bid""".stripMargin),
    // Full reference trade schema (sim/trades.py:80-98).
    "sim_trades_full" -> Query((s, dir) =>
      MarketSim.simulateTrades(
          MarketSim.simulateQuotes(s, "SIM", days = 2, ticksPerDay = 5000),
          targetVolumePerDay = 1000000L)
        .select(col("ticker"), unix_micros(col("ts")).as("ts_us"),
          col("price"), col("size"), col("side").cast("long").as("side"),
          col("exchange").cast("long").as("exchange"), col("day"),
          col("conditions"), col("correction"), col("id"),
          col("participant_timestamp"), col("sequence_number"),
          col("sip_timestamp"), col("tape").cast("long").as("tape"),
          col("trf_id"), col("trf_timestamp")),
      s"""WITH $QUOTES_CTE, th AS (
          |  SELECT *, md5('42_' || ticker || '_' || ts_us || '_take') AS h_take,
          |    md5('42_' || ticker || '_' || ts_us || '_side') AS h_side,
          |    md5('42_' || ticker || '_' || ts_us || '_sz') AS h_sz,
          |    md5('42_' || ticker || '_' || ts_us || '_tsip') AS h_tsip,
          |    md5('42_' || ticker || '_' || ts_us || '_ttape') AS h_ttape,
          |    md5('42_' || ticker || '_' || ts_us || '_trfid') AS h_trfid,
          |    md5('42_' || ticker || '_' || ts_us || '_ttrf') AS h_ttrf
          |  FROM quotes
          |), tu AS (
          |  SELECT *,
          |    ${w8("h_take")} / 4294967296.0 AS u_take,
          |    ${w8("h_side")} / 4294967296.0 AS u_side,
          |    ${w8("h_sz")} / 4294967296.0 AS u_sz,
          |    ${w8("h_tsip")} / 4294967296.0 AS u_tsip,
          |    ${w8("h_ttape")} / 4294967296.0 AS u_ttape,
          |    ${w8("h_trfid")} / 4294967296.0 AS u_trfid,
          |    ${w8("h_ttrf")} / 4294967296.0 AS u_ttrf
          |  FROM th
          |), tf AS (SELECT * FROM tu WHERE u_take < 0.1),
          |tn AS (
          |  SELECT *, count(*) OVER (PARTITION BY ticker, day) AS npd,
          |    row_number() OVER (PARTITION BY ticker, day ORDER BY ts_us) AS rn
          |  FROM tf
          |)
          |SELECT ticker, ts_us,
          |  CASE WHEN u_side < 0.5 THEN ask ELSE bid END AS price,
          |  CAST(floor(1000000 / npd * (0.5 + u_sz)) AS BIGINT) AS size,
          |  CAST(CASE WHEN u_side < 0.5 THEN 1 ELSE -1 END AS BIGINT) AS side,
          |  exchange, day,
          |  '0' AS conditions, CAST(NULL AS BIGINT) AS correction,
          |  1000000 + rn - 1 AS id,
          |  ts_us * 1000 AS participant_timestamp,
          |  2000000 + rn - 1 AS sequence_number,
          |  ts_us * 1000 + 5000 + CAST(floor(u_tsip * 195000) AS BIGINT) AS sip_timestamp,
          |  CAST(CASE WHEN exchange IN (10, 11, 1) THEN 1
          |            WHEN exchange IN (12, 2) THEN 3
          |            WHEN exchange IN (201, 202) THEN CAST(floor(u_ttape * 3) AS INT) + 1
          |            ELSE 2 END AS BIGINT) AS tape,
          |  CAST(floor(u_trfid * 3) AS BIGINT) AS trf_id,
          |  ts_us * 1000 + 10000 + CAST(floor(u_ttrf * 390000) AS BIGINT) AS trf_timestamp
          |FROM tn ORDER BY day, ts_us""".stripMargin),
    "sim_event_flags" -> Query((s, dir) =>
      MarketSim.flagEventTicks(
          MarketSim.simulateQuotes(s, "SIM", days = 2, ticksPerDay = 5000),
          MarketSim.eventWindows(s, days = 2, numEvents = 3,
            minDurUs = 600000000L, maxDurUs = 3600000000L))
        .groupBy(col("day"))
        .agg(sum(col("in_event").cast("long")).as("n_event_ticks"),
          count(lit(1)).as("n_ticks")),
      s"""WITH $QUOTES_CTE, whd AS (
          |  SELECT t.range AS day, md5('42_' || t.range || '_p') AS h_p,
          |    md5('42_' || t.range || '_n') AS h_n
          |  FROM range(0, 2) t
          |), wd AS (
          |  SELECT day,
          |    CASE WHEN ${w8("h_p")} / 4294967296.0 > 0.5 THEN 0
          |         ELSE CAST(floor(${w8("h_n")} / 4294967296.0 * 3) AS BIGINT) + 1 END AS total
          |  FROM whd
          |), eh AS (
          |  SELECT day, md5('42_' || (day * 1000 + i.range) || '_d') AS h_d,
          |    md5('42_' || (day * 1000 + i.range) || '_s') AS h_s
          |  FROM wd CROSS JOIN range(0, 3) i WHERE i.range < total
          |), evd AS (
          |  SELECT day,
          |    600000000 + CAST(floor(${w8("h_d")} / 4294967296.0 * 3000000000) AS BIGINT) AS dur,
          |    ${w8("h_s")} / 4294967296.0 AS u_s
          |  FROM eh
          |), evw AS (
          |  SELECT day, start_us, start_us + dur AS end_us FROM (
          |    SELECT day, dur,
          |      1712928600000000 + day * 86400000000
          |        + CAST(floor(u_s * (23400000000 - dur)) AS BIGINT) AS start_us
          |    FROM evd
          |  )
          |)
          |SELECT day, CAST(sum(CASE WHEN in_ev THEN 1 ELSE 0 END) AS BIGINT) AS n_event_ticks,
          |  count(*) AS n_ticks
          |FROM (
          |  SELECT q.day AS day,
          |    EXISTS(SELECT 1 FROM evw e
          |           WHERE e.day = q.day AND q.ts_us >= e.start_us
          |             AND q.ts_us < e.end_us) AS in_ev
          |  FROM quotes q
          |)
          |GROUP BY day ORDER BY day""".stripMargin)
  )
}
