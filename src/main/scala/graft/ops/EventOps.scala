package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Event-stream analytics beyond the reference's surface (its event handling
  * stops at sessionization, /root/reference/examples/script_06_web_sessionization.py):
  * ordered funnel attribution, idempotent incremental ingest, and time-series
  * gap fill with last-observation-carried-forward.
  *
  * 100 TB shapes: every aggregation and join in this file keys on user_id or
  * event_id — the natural event-log partitioning — so each query is one
  * co-partitioned shuffle family with segment filters pushed to the scan;
  * q75 bounds BOTH sides of its anti-join to the reprocess window, never
  * touching full history; q76's scaffold explode is per-user-bounded (days
  * in the user's own active range). */
object EventOps {

  // ---- q73: ordered funnel -------------------------------------------------
  /** Strictly-ordered funnel view → click → purchase per user: the first view,
    * the first click AFTER that view, the first purchase AFTER that click,
    * and the stage reached. Three conditional min-aggregates chained by
    * user_id-keyed joins — each stage's events are filtered at the scan, and
    * every shuffle in the chain reuses the user_id partitioning. min() over
    * µs timestamps is exact, so the funnel is fully oracled. */
  val funnel: Q = Q(
    "q73_funnel",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val t2 = ev.filter(col("event_type") === "click").join(t1, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase").join(t2, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      ev.select("user_id").distinct()
        .join(t1, Seq("user_id"), "left")
        .join(t2, Seq("user_id"), "left")
        .join(t3, Seq("user_id"), "left")
        .withColumn("reached_stage",
          when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1).otherwise(0))
    },
    Some("""WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      ), t1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id
      ), t2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e JOIN t1 ON e.user_id = t1.user_id
        WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id
      ), t3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e JOIN t2 ON e.user_id = t2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id
      )
      SELECT u.user_id, t1.t1, t2.t2, t3.t3,
             CASE WHEN t3.t3 IS NOT NULL THEN 3 WHEN t2.t2 IS NOT NULL THEN 2
                  WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS reached_stage
      FROM (SELECT DISTINCT user_id FROM ev) u
      LEFT JOIN t1 ON u.user_id = t1.user_id
      LEFT JOIN t2 ON u.user_id = t2.user_id
      LEFT JOIN t3 ON u.user_id = t3.user_id"""))

  // ---- q75: idempotent incremental ingest ----------------------------------
  private val watermark = "2024-01-20 00:00:00"
  private val lateMinutes = 5

  /** Incremental ingest with a late-data reprocess window: the sink holds
    * everything at or before the watermark; a new batch re-reads the source
    * from (watermark − 5 min) and anti-joins against the sink's keys to stay
    * idempotent. Both anti-join sides are bounded to the reprocess window —
    * a late event can only collide with sink rows in the overlap — so at
    * 100 TB the lookup side is minutes of data, not full history, and the
    * source re-read prunes on the parquet ts statistics. */
  val watermarkIngest: Q = Q(
    "q75_watermark_ingest",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val reprocessFrom = expr(s"timestamp'$watermark' - INTERVAL $lateMinutes MINUTES")
      val sinkOverlap = ev
        .filter(col("ts") <= lit(watermark).cast("timestamp") && col("ts") > reprocessFrom)
        .select("event_id")
      ev.filter(col("ts") > reprocessFrom)
        .join(sinkOverlap, Seq("event_id"), "left_anti")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    },
    Some(s"""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      FROM events
      WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '$watermark' - INTERVAL $lateMinutes MINUTE
        AND event_id NOT IN (
          SELECT event_id FROM events
          WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '$watermark'
            AND CAST(ts AS TIMESTAMP) > TIMESTAMP '$watermark' - INTERVAL $lateMinutes MINUTE)"""))

  // ---- q76: daily resample + gap fill (LOCF) -------------------------------
  /** Per-user daily resample over each user's own active range, with missing
    * days filled by last-observation-carried-forward. The LOCF avoids
    * IGNORE NULLS (not portable to the oracle dialect): a running count of
    * non-null observations assigns each null-run to its preceding
    * observation's group, and max() within the (user, group) partition
    * carries the value. Scaffold size is Σ per-user active days — data
    * proportional, no global calendar cross join. */
  val gapFill: Q = Q(
    "q76_gap_fill",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("day_value"))
      val scaffold = ev.groupBy("user_id")
        .agg(date_trunc("DAY", min("ts")).as("d0"), date_trunc("DAY", max("ts")).as("d1"))
        .withColumn("day", explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))))
        .select("user_id", "day")
      val wRun = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scaffold.join(daily, Seq("user_id", "day"), "left")
        .withColumn("grp", count(col("day_value")).over(wRun))
        .withColumn("value_filled",
          max(col("day_value")).over(Window.partitionBy("user_id", "grp")))
        .select(col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"), col("value_filled"))
    },
    Some("""WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      ), daily AS (
        SELECT user_id, date_trunc('day', ts) AS day, COUNT(1) AS n_events,
               ROUND(SUM(value), 2) AS day_value
        FROM ev GROUP BY user_id, date_trunc('day', ts)
      ), span AS (
        SELECT user_id, date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
        FROM ev GROUP BY user_id
      ), scaffold AS (
        SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span
      ), j AS (
        SELECT s.user_id, s.day, d.n_events, d.day_value
        FROM scaffold s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
      ), g AS (
        SELECT *, COUNT(day_value) OVER (PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM j
      )
      SELECT user_id, day, CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
             MAX(day_value) OVER (PARTITION BY user_id, grp) AS value_filled
      FROM g"""))

  // ---- q81: hopping-window aggregation -------------------------------------
  /** Sliding (hopping) time-window aggregation: 6-hour windows advancing
    * every 2 hours, so each event contributes to exactly 3 overlapping
    * windows — Spark's `window(ts, "6 hours", "2 hours")`, the batch form of
    * the streaming hopping aggregate (q06/q31 cover session windows; q76
    * covers tumbling days). The oracle reproduces Spark's epoch-aligned
    * window grid arithmetically: start_k = (µs − µs mod hop) − k·hop for
    * k ∈ {0,1,2} — every such window contains ts by construction, so no
    * membership filter is needed in either engine. Spark's window explode is
    * a per-row flatMap into the ONE shuffle of the aggregation — state per
    * window is the aggregate, never the events. */
  val hoppingWindow: Q = Q(
    "q81_hopping_window",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "6 hours", "2 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("window_value"))
        .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
          col("event_type"), col("n_events"), col("window_value"))
    },
    Some("""WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
      ), hopped AS (
        -- floor-mod ((x % hop) + hop) % hop, not bare %: DuckDB's modulo
        -- truncates toward zero, which disagrees with Spark's window grid
        -- for pre-epoch timestamps; the floor form is total
        SELECT make_timestamp((epoch_us(ts)
                 - ((epoch_us(ts) % 7200000000) + 7200000000) % 7200000000)
                 - k * 7200000000) AS window_start,
               event_type, value
        FROM ev CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) ks
      )
      SELECT window_start,
             window_start + INTERVAL 6 HOUR AS window_end,
             event_type, COUNT(1) AS n_events,
             ROUND(SUM(value), 2) AS window_value
      FROM hopped GROUP BY window_start, event_type"""))

  // ---- q83: cohort retention -----------------------------------------------
  /** Weekly cohort retention: users are cohorted by the week of their first
    * event; each later active week counts them into (cohort_week,
    * week_offset). Both week values are date_trunc('week') timestamps, so
    * the offset is an exact day-diff ÷ 7 in both engines. Two aggregations
    * on the user key plus one distinct — the classic retention matrix with
    * no per-user state beyond the first-seen timestamp. */
  val cohortRetention: Q = Q(
    "q83_cohort_retention",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val cohorts = ev.groupBy("user_id")
        .agg(date_trunc("WEEK", min("ts")).as("cohort_week"))
      val active = ev
        .select(col("user_id"), date_trunc("WEEK", col("ts")).as("active_week"))
        .distinct()
      active.join(cohorts, Seq("user_id"))
        .withColumn("week_offset",
          expr("CAST(datediff(active_week, cohort_week) DIV 7 AS BIGINT)"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_active"))
    },
    Some("""WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      ), cohorts AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM ev GROUP BY user_id
      ), active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM ev
      )
      SELECT c.cohort_week,
             CAST(date_diff('day', c.cohort_week, a.active_week) // 7 AS BIGINT)
               AS week_offset,
             COUNT(1) AS n_active
      FROM active a JOIN cohorts c ON a.user_id = c.user_id
      GROUP BY 1, 2"""))

  // ---- q84: debounce dedup -------------------------------------------------
  private val debounceUs = 3600000000L // 1 h

  /** Debounce: drop an event arriving within 1 h of the PREVIOUS event of
    * the same (user, event_type) — the near-duplicate suppression a sparse
    * event log runs at ingestion (the threshold is data-scaled: the
    * synthetic stream spreads 15-150 users over a month, so sub-minute
    * windows drop nothing). Gap is measured against the immediately preceding
    * raw event (one lag over the natural key partition, one shuffle), not
    * the previous SURVIVOR — the stateless form that needs no iterative
    * chain. Ties on ts are ordered by event_id, so the keep-set is total-
    * order deterministic and exactly oracled; the µs gap arithmetic is
    * integer in both engines. */
  val debounce: Q = Q(
    "q84_debounce",
    (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .filter(col("prev_ts").isNull ||
          expr(s"unix_micros(ts) - unix_micros(prev_ts) >= ${debounceUs}L"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    },
    Some(s"""WITH ev AS (
        SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      ), lagged AS (
        SELECT event_id, user_id, event_type, ts,
               lag(ts) OVER (PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) AS prev_ts
        FROM ev
      )
      SELECT event_id, user_id, event_type, ts
      FROM lagged
      WHERE prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) >= $debounceUs"""))

  // ---- q88: time-weighted average ------------------------------------------
  /** Per-(user, day) time-weighted average of `value` over irregular events:
    * each observation holds until the next event of the same user-day (last
    * one holds to midnight), i.e. the step-function mean — the TWAP shape
    * finance/telemetry pipelines need where a plain avg() over-weights bursts.
    *
    * FP discipline (contract atop Pipelines.scala): `value` has 2 decimals →
    * scaled to exact BIGINT cents; dwell times are exact µs BIGINTs; both
    * per-group sums are integer (order-independent, any partitioning); only
    * the final twa = num/den/100 runs in doubles — two exactly-rounded IEEE
    * divisions both engines evaluate identically. One window + one
    * aggregation, both keyed (user_id, day) — a single co-partitioned
    * shuffle family at any scale. */
  val timeWeightedAvg: Q = Q(
    "q88_time_weighted_avg",
    (s, dir) => {
      val w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("day", date_trunc("DAY", col("ts")))
        .withColumn("next_ts",
          coalesce(lead("ts", 1).over(w), expr("day + INTERVAL 1 DAY")))
        .withColumn("dw", expr("unix_micros(next_ts) - unix_micros(ts)"))
        .withColumn("v100", expr("CAST(round(value * 100) AS BIGINT)"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"),
          sum(expr("v100 * dw")).as("num"), sum("dw").as("den"))
        .select(col("user_id"), col("day"), col("n_events"),
          expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1e2").as("twa_value"))
    },
    Some("""WITH ev AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      ), d AS (
        SELECT *, date_trunc('day', ts) AS day FROM ev
      ), n AS (
        SELECT user_id, day, ts, value,
               COALESCE(lead(ts) OVER (PARTITION BY user_id, day
                 ORDER BY ts, event_id), day + INTERVAL 1 DAY) AS next_ts
        FROM d
      ), x AS (
        SELECT user_id, day, epoch_us(next_ts) - epoch_us(ts) AS dw,
               CAST(round(value * 100) AS BIGINT) AS v100
        FROM n
      )
      SELECT user_id, day, COUNT(1) AS n_events,
             CAST(SUM(v100 * dw) AS DOUBLE) / CAST(SUM(dw) AS DOUBLE) / 1e2
               AS twa_value
      FROM x GROUP BY user_id, day"""))

  // ---- q89: last-touch attribution -----------------------------------------
  private val attributionWindowUs = 3L * 24 * 3600 * 1000000 // 3 days

  /** Last-touch marketing attribution: each purchase is credited to the most
    * recent view/click of the same user within a 3-day lookback, else
    * 'none'; credited revenue rolls up per (channel, purchase day). The
    * last-touch lookup avoids IGNORE NULLS (not portable to the oracle
    * dialect) via the q76 running-count trick: a running count of channel
    * events indexes each purchase to its preceding channel event, which is
    * then recovered by an equi-join on (user_id, index) — every window and
    * join in the query keys on user_id, one co-partitioned shuffle family,
    * and the lookback bound is integer µs arithmetic. Revenue sums exact
    * BIGINT cents (order-independent) with a final double division. */
  val attribution: Q = Q(
    "q89_attribution",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tagged = Tables.events(s, dir)
        .withColumn("grp",
          count(when(col("event_type").isin("view", "click"), 1)).over(w))
      val channels = tagged.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("grp"), col("ts").as("ch_ts"),
          col("event_type").as("channel"))
      val purchases = tagged.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("grp"), col("ts"), col("value"))
      purchases.join(channels, Seq("user_id", "grp"), "left")
        .withColumn("attributed_channel",
          when(col("ch_ts").isNotNull &&
            expr(s"unix_micros(ts) - unix_micros(ch_ts) <= ${attributionWindowUs}L"),
            col("channel")).otherwise(lit("none")))
        .groupBy(col("attributed_channel"), date_trunc("DAY", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_purchases"),
          expr("CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 1e2")
            .as("revenue"))
    },
    Some(s"""WITH ev AS (
        SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events
      ), t AS (
        SELECT *, COUNT(CASE WHEN event_type IN ('view', 'click') THEN 1 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM ev
      ), ch AS (
        SELECT user_id, grp, ts AS ch_ts, event_type AS channel
        FROM t WHERE event_type IN ('view', 'click')
      ), p AS (
        SELECT user_id, grp, ts, value FROM t WHERE event_type = 'purchase'
      ), j AS (
        SELECT p.ts, p.value,
               CASE WHEN ch.ch_ts IS NOT NULL
                     AND epoch_us(p.ts) - epoch_us(ch.ch_ts) <= $attributionWindowUs
                    THEN ch.channel ELSE 'none' END AS attributed_channel
        FROM p LEFT JOIN ch ON p.user_id = ch.user_id AND p.grp = ch.grp
      )
      SELECT attributed_channel, date_trunc('day', ts) AS day,
             COUNT(1) AS n_purchases,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 1e2
               AS revenue
      FROM j GROUP BY 1, 2"""))

  // ---- q92: peak concurrency (distributed sweep-line) ----------------------
  /** Peak number of concurrently-active 30-minute event windows per day —
    * each event opens a half-open [ts, ts+30min) activity interval; the
    * classic sweep-line (+1 at start, −1 at end, running sum, max) made
    * distributed: a single global ordering would serialize the whole log
    * through one partition, so the sweep partitions by DAY with each day's
    * carried-over offset (intervals opened before the day and still active
    * at its start) computed as a separate aggregate and added to the
    * in-day prefix sum. A zero-delta sentinel at each day start makes the
    * day-start level itself a candidate peak (a day of only closings peaks
    * at its first instant). End boundaries landing in the next day
    * decrement there — exactly matching that day's carried-over count.
    * Same-instant boundaries are COLLAPSED to one net delta per (day, bts)
    * before the prefix sum: the running value is sampled only at real
    * instants, so an interval ending at t never overlaps one starting at t,
    * and m intervals ending exactly at midnight yield the true day-start
    * level base−m rather than the base−1..base−(m−1) intermediates a
    * per-boundary walk would record against the new day. Collapsing also
    * makes (day, bts) a UNIQUE window key, so the explicit ROWS frame and
    * the oracle's agree structurally, not just by tie-freeness. Pure
    * integer arithmetic throughout. */
  /** The q92 plan over any frame with a `ts` column — exposed so the spec can
    * drive a synthetic exact-midnight-tie case through the production plan. */
  private[graft] def peakConcurrencyOf(ev0: DataFrame): DataFrame = {
      val ev = ev0.select(col("ts"))
      val bounds = ev.select(col("ts").as("bts"), lit(1).as("delta"))
        .unionAll(ev.select(expr("ts + INTERVAL 30 MINUTES").as("bts"),
          lit(-1).as("delta")))
        .withColumn("day", date_trunc("DAY", col("bts")))
      val days = bounds.select("day").distinct()
      val sentinels = days.select(col("day"), col("day").as("bts"),
        lit(0).as("delta"))
      // Carried-over offset per day WITHOUT a non-equi join: the interval is
      // shorter than a day, so [ts, ts+30min] contains at most one midnight
      // — exactly date_trunc(ts + 30min) when that midnight lies strictly
      // after ts. The "≥ midnight" (not >) end side matters: an interval
      // closing EXACTLY at midnight still has its −1 boundary in this day's
      // partition, so it must be in the offset it decrements from — and
      // such a day always appears in `days` because that −1 boundary lands
      // in it. One filter + one equi-aggregation; |events| × |days| work
      // would be the nested-loop shape this operator exists to avoid.
      val base = ev
        .withColumn("day", date_trunc("DAY", expr("ts + INTERVAL 30 MINUTES")))
        .filter(col("ts") < col("day"))
        .groupBy("day").agg(count(lit(1)).as("base"))
      val w = Window.partitionBy("day").orderBy(col("bts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // base is one row per day — broadcast it (the Aggregate's size estimate
      // hides that, so the planner would otherwise sort-merge the whole
      // boundary stream against a per-day table)
      bounds.select("day", "bts", "delta").unionAll(sentinels)
        .groupBy("day", "bts").agg(sum("delta").as("delta"))
        .join(broadcast(base), Seq("day"), "left")
        .withColumn("running",
          coalesce(col("base"), lit(0L)) + sum("delta").over(w))
        .groupBy("day").agg(max("running").as("peak_concurrent"))
  }

  val peakConcurrency: Q = Q(
    "q92_peak_concurrency",
    (s, dir) => peakConcurrencyOf(Tables.events(s, dir)),
    Some("""WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts FROM events
      ), bounds AS (
        SELECT ts AS bts, 1 AS delta FROM ev
        UNION ALL
        SELECT ts + INTERVAL 30 MINUTE AS bts, -1 AS delta FROM ev
      ), b AS (
        SELECT date_trunc('day', bts) AS day, bts, delta FROM bounds
      ), days AS (
        SELECT DISTINCT day FROM b
      ), sentinels AS (
        SELECT day, day AS bts, 0 AS delta FROM days
      ), base AS (
        SELECT date_trunc('day', ts + INTERVAL 30 MINUTE) AS day, COUNT(1) AS base
        FROM ev WHERE ts < date_trunc('day', ts + INTERVAL 30 MINUTE)
        GROUP BY 1
      ), grouped AS (
        SELECT day, bts, SUM(delta) AS delta
        FROM (SELECT day, bts, delta FROM b
              UNION ALL SELECT * FROM sentinels) u
        GROUP BY day, bts
      ), sweep AS (
        SELECT g.day, g.bts, g.delta, COALESCE(base.base, 0) AS base
        FROM grouped g
        LEFT JOIN base ON g.day = base.day
      ), run AS (
        SELECT day, base + SUM(delta) OVER (PARTITION BY day
          ORDER BY bts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        FROM sweep
      )
      SELECT day, CAST(MAX(running) AS BIGINT) AS peak_concurrent
      FROM run GROUP BY day"""))

  // ---- q96: rolling 7-day active users -------------------------------------
  /** Rolling 7-day active users per day (the WAU curve): for each calendar
    * day D in the observed range, the number of distinct users with any
    * event in [D−6, D]. The scale-correct shape is contribution explode,
    * not a range self-join: the per-(user, day) distinct frame (one
    * aggregation, tiny vs the event log) fans each row out to its ≤ 7
    * target days, and a second distinct-count aggregation lands on day keys
    * — two user/day-keyed shuffles total, no non-equi join anywhere. The
    * curve covers EVERY day of the observed [min, max] span (1-row broadcast
    * bounds): a calendar scaffold left-joins the fan-out counts so a day
    * whose whole 7-day lookback is silent reports 0 instead of vanishing.
    * Counts are exact integers. */
  val rollingActiveUsers: Q = Q(
    "q96_rolling_active_users",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val userDays = ev
        .select(col("user_id"), date_trunc("DAY", col("ts")).as("day")).distinct()
      val bounds = ev.agg(
        date_trunc("DAY", min("ts")).as("d0"), date_trunc("DAY", max("ts")).as("d1"))
      val fan = userDays.join(broadcast(bounds))
        .withColumn("target_day", explode(expr(
          "sequence(day, least(day + INTERVAL 6 DAYS, d1), INTERVAL 1 DAY)")))
        .groupBy("target_day")
        .agg(countDistinct("user_id").as("active_users"))
      val scaffold = bounds
        .select(explode(expr("sequence(d0, d1, INTERVAL 1 DAY)")).as("target_day"))
      scaffold.join(fan, Seq("target_day"), "left")
        .select(col("target_day"),
          coalesce(col("active_users"), lit(0L)).as("active_users"))
    },
    Some("""WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      ), ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM ev
      ), b AS (
        SELECT date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
        FROM ev
      ), fan AS (
        SELECT user_id, unnest(generate_series(day,
                 least(day + INTERVAL 6 DAY, d1), INTERVAL 1 DAY)) AS target_day
        FROM ud, b
      ), counts AS (
        SELECT target_day, COUNT(DISTINCT user_id) AS active_users
        FROM fan GROUP BY target_day
      ), scaffold AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS target_day FROM b
      )
      SELECT s.target_day, COALESCE(c.active_users, 0) AS active_users
      FROM scaffold s LEFT JOIN counts c ON s.target_day = c.target_day"""))

  // ---- q97: session-bounded transition matrix ------------------------------
  /** Event-type transition matrix (the Markov flow behind sankey/path
    * analysis): for consecutive events of the same user within a 30-minute
    * gap, count a→b transitions and the conditional P(next=b | cur=a).
    * One lag/lead window on the natural user key feeds a ≤ |types|²-row
    * aggregation with map-side combine; the row-count totals join back as a
    * broadcast. The gap bound is integer µs arithmetic; probabilities are
    * one double division of exact counts. */
  val transitionMatrix: Q = Q(
    "q97_transition_matrix",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val tr = Tables.events(s, dir)
        .withColumn("next_type", lead("event_type", 1).over(w))
        .withColumn("next_ts", lead("ts", 1).over(w))
        .filter(col("next_type").isNotNull &&
          expr("unix_micros(next_ts) - unix_micros(ts) < 1800000000"))
      val counts = tr
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
      val totals = counts.groupBy("from_type")
        .agg(sum("n_transitions").as("total_out"))
      counts.join(broadcast(totals), "from_type")
        .select(col("from_type"), col("to_type"), col("n_transitions"),
          expr("CAST(n_transitions AS DOUBLE) / CAST(total_out AS DOUBLE)")
            .as("p_transition"))
    },
    Some("""WITH ev AS (
        SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events
      ), tr AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER w AS to_type,
               epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), counts AS (
        SELECT from_type, to_type, COUNT(1) AS n_transitions
        FROM tr WHERE to_type IS NOT NULL AND gap_us < 1800000000
        GROUP BY from_type, to_type
      ), totals AS (
        SELECT from_type, SUM(n_transitions) AS total_out
        FROM counts GROUP BY from_type
      )
      SELECT c.from_type, c.to_type, c.n_transitions,
             CAST(c.n_transitions AS DOUBLE) / CAST(t.total_out AS DOUBLE)
               AS p_transition
      FROM counts c JOIN totals t ON c.from_type = t.from_type"""))

  private val decayHalfLives = 30 // ages past this contribute zero

  /** Exponentially time-decayed popularity per item (one-day half-life):
    * score = Σ value · 2^(−age_days) — the recency weighting recsys ranking
    * and curriculum sampling run — computed in EXACT arithmetic so the
    * result is bit-identical across engines and partitionings: per event,
    * integer cents × an integer power-of-two weight 2^(30−age) (≤ 10^13,
    * comfortably BIGINT); the sum carries DECIMAL(38,0) (exact, no overflow
    * until 10^38 — trillions of events per item); the final scale-back
    * divides by 2^30, which only shifts the double's exponent. One
    * correctly-rounded decimal→double conversion per group is the entire
    * FP surface (the q68 rational-score argument). The reference date is a
    * collected scalar (the bounds-literal pattern) so no per-row subquery
    * runs, and the aggregation is one map-side-combined shuffle on item. */
  val decayedPopularity: Q = Q(
    "q105_decayed_popularity",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        get_json_object(col("props"), "$.k").as("item"),
        to_date(col("ts")).as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val maxD = ev.agg(max("d")).head().getDate(0)
      ev.withColumn("age", datediff(lit(maxD), col("d")))
        .groupBy("item")
        .agg(
          (sum(when(col("age") > decayHalfLives, lit(0L))
            .otherwise(expr(s"cents * shiftleft(1L, $decayHalfLives - age)"))
            .cast("decimal(38,0)"))
            .cast("double") / lit(math.pow(2, decayHalfLives)))
            .as("decayed_score"),
          count(lit(1)).as("n_events"))
    },
    Some(s"""WITH ev AS (
        SELECT json_extract_string(props, '$$.k') AS item,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
      ), mx AS (SELECT max(d) AS maxd FROM ev),
      aged AS (
        SELECT item, cents, date_diff('day', d, (SELECT maxd FROM mx)) AS age
        FROM ev
      )
      SELECT item,
             CAST(SUM(CAST(CASE WHEN age > $decayHalfLives THEN 0
                      ELSE cents * (1::BIGINT << ($decayHalfLives - age)) END
                      AS DECIMAL(38,0))) AS DOUBLE)
               / ${1L << decayHalfLives}.0 AS decayed_score,
             COUNT(1) AS n_events
      FROM aged GROUP BY item"""))

  // ---- q106: per-user interval union (total active time) -------------------
  /** Activity interval length for q92/q106 (30 min in µs). Declared BEFORE
    * q106: its oracle string interpolates this at object-init time. */
  private val activityIntervalUs = 1800000000L

  /** Total active time per user with overlapping activity intervals MERGED —
    * each event opens [ts, ts+30min), and back-to-back or overlapping
    * intervals must count wall-clock once, not per event (the utilization /
    * billable-time primitive; q92 sweeps the same intervals globally for
    * peak concurrency, this merges them per key). Classic island detection,
    * kept fully parallel: one window partitioned by user_id computes each
    * row's running max of PRIOR interval ends; a row strictly past that max
    * starts a new island (touching intervals [a,b)+[b,c) merge — contiguous
    * activity has no gap); the running sum of starts numbers the islands,
    * and two map-side-combined aggregations produce per-island extents and
    * the per-user totals. No global sort, no self-join: at 100 TB this is
    * one user-keyed shuffle reused by the window and both aggregations,
    * with per-user state bounded by that user's own events. Tie order
    * between duplicate (st,en) rows cannot change islands: a tied row sees
    * its twin's end ≥ its own start, so only the first-in-order opens. All
    * arithmetic is exact integer microseconds. */
  /** The q106 plan over any (user_id, st, en) interval frame — exposed so the
    * spec can drive synthetic touching/overlap/gap boundary cases through the
    * production plan. */
  private[graft] def intervalUnionOf(iv: DataFrame): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy("st", "en")
    val prior = ord.rowsBetween(Window.unboundedPreceding, -1)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv.withColumn("opens",
        when(col("st") > coalesce(max("en").over(prior), lit(Long.MinValue)),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("island", sum("opens").over(run))
      .groupBy("user_id", "island")
      .agg(min("st").as("ist"), max("en").as("ien"))
      .groupBy("user_id")
      .agg(sum(col("ien") - col("ist")).as("active_us"),
        count(lit(1)).as("n_islands"))
  }

  val intervalUnion: Q = Q(
    "q106_interval_union",
    (s, dir) => intervalUnionOf(
      Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("st"))
        .withColumn("en", col("st") + lit(activityIntervalUs))),
    Some(s"""WITH iv AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS st,
               epoch_us(CAST(ts AS TIMESTAMP)) + $activityIntervalUs AS en
        FROM events
      ), flagged AS (
        SELECT user_id, st, en,
               CASE WHEN st > COALESCE(MAX(en) OVER (PARTITION BY user_id
                      ORDER BY st, en
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    ${Long.MinValue})
                 THEN 1 ELSE 0 END AS opens
        FROM iv
      ), isl AS (
        SELECT user_id, st, en,
               SUM(opens) OVER (PARTITION BY user_id ORDER BY st, en
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
      ), merged AS (
        SELECT user_id, island, MIN(st) AS ist, MAX(en) AS ien
        FROM isl GROUP BY user_id, island
      )
      SELECT user_id, CAST(SUM(ien - ist) AS BIGINT) AS active_us,
             COUNT(1) AS n_islands
      FROM merged GROUP BY user_id"""))

  // ---- q107: exact distinct via bitmap partial aggregation -----------------
  /** Exact distinct users per event type, computed the way a 1000-executor
    * cluster wants it: ids fold into fixed-size bitmaps BEFORE the shuffle
    * (`bitmap_bit_position` within 32k-bit buckets, `bitmap_construct_agg`
    * as the map-side combine), so the wire carries at most
    * |types| × ⌈id-space/32768⌉ four-KB bitmaps no matter how many rows the
    * log holds — where COUNT(DISTINCT) must shuffle one row per distinct
    * (type, user) pair. A second aggregation ORs the per-bucket bitmaps and
    * sums their popcounts. Same exact answer, shuffle volume decoupled from
    * cardinality; the oracle is the plain COUNT(DISTINCT). */
  val bitmapDistinct: Q = Q(
    "q107_bitmap_distinct",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
        .groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("distinct_users")),
    Some("""SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
           FROM events GROUP BY event_type"""))

  /** Event-volume anomaly detection — the pipeline-health monitor a
    * continuous ingest runs per event type: each day's event count scored
    * against the TRAILING 7 observed days (the current day never leaks into
    * its own baseline), |z| ≥ 2 flagged. The q71 exactness discipline,
    * windowed: baseline mean/variance come from exact integer window sums
    * (Σx, Σx² of BIGINT counts — order-independent), and z is one fixed-shape
    * double expression, bit-equal in DuckDB. Days with an incomplete 7-day
    * baseline or zero baseline variance are excluded in both engines (0/0 is
    * NaN in Spark, NULL in DuckDB — the q71 guard).
    *
    * Scale shape: the raw stream collapses to (type, day) grain in one
    * map-side-combined aggregate before any window runs, so the window
    * input is ~types × days rows regardless of event volume; the per-type
    * window partition is days-long, never data-long. */
  val volumeAnomaly: Q = Q(
    "q124_volume_anomaly",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = graft.Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
      daily
        .withColumn("wcnt", count(lit(1)).over(w))
        .withColumn("sx", sum("cnt").over(w))
        .withColumn("sxx", sum(col("cnt") * col("cnt")).over(w))
        .filter(col("wcnt") === 7)
        .withColumn("variance", expr("(sxx / 7) - ((sx / 7) * (sx / 7))"))
        .filter(col("variance") > 0.0)
        .withColumn("z", expr("(cnt - (sx / 7)) / sqrt(variance)"))
        .select(col("event_type"), col("day"), col("cnt"), col("z"),
          when(abs(col("z")) >= 2.0, 1).otherwise(0).as("is_anomaly"))
    },
    Some("""WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               COUNT(1) AS cnt
        FROM events GROUP BY 1, 2
      ), win AS (
        SELECT event_type, day, cnt,
               COUNT(1) OVER w AS wcnt,
               CAST(SUM(cnt) OVER w AS BIGINT) AS sx,
               CAST(SUM(cnt * cnt) OVER w AS BIGINT) AS sxx
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      )
      SELECT event_type, day, cnt, z,
             CASE WHEN abs(z) >= 2.0 THEN 1 ELSE 0 END AS is_anomaly
      FROM (
        SELECT event_type, day, cnt,
               (cnt - (sx / 7)) / sqrt((sxx / 7) - ((sx / 7) * (sx / 7))) AS z
        FROM win
        WHERE wcnt = 7 AND (sxx / 7) - ((sx / 7) * (sx / 7)) > 0.0)"""))

  /** Incremental session-store maintenance — the production form of q06:
    * yesterday's session table plus today's delta must yield the SAME table
    * a full resessionization would, while touching only delta-proportional
    * work. The plan derives the base store (events before a 3-days-from-
    * horizon cutoff, sessionized q06-style), then merges the delta in three
    * disjoint pieces: (1) sessions of users with no delta activity pass
    * through untouched; (2) an affected user's CLOSED sessions (ended more
    * than the 30-min gap before the cutoff — at most the last session per
    * user can be open, since sessions are gap-separated) pass through too;
    * (3) the open session, as an interval item carrying its (count, cents)
    * partial aggregates, gap-merges with the user's delta events under the
    * exact q06 rule — an interval's END feeds the lag, so the first delta
    * event sees the last base event's timestamp, exactly what a full
    * recompute would lag against. Mergeability dictates the store schema:
    * counts and exact BIGINT cents re-aggregate losslessly across the
    * base/delta boundary where a rounded double sum or a COUNT DISTINCT
    * would not.
    *
    * The oracle is the WHOLE-corpus sessionization — equality IS the
    * incremental-correctness theorem, checked per hash. Scale shape: the
    * base store is read, not recomputed (here derived in-plan to stay
    * self-contained); merge work is one window over (delta events + one
    * open session per affected user). */
  val incrementalSessions: Q = Q(
    "q126_incremental_sessions",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = graft.Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val cut = ev.agg(max(col("ts")).as("max_ts"))
        .select((col("max_ts") - expr("INTERVAL 3 DAYS")).as("t0"))
      val evc = ev.crossJoin(broadcast(cut))
      val base = evc.filter(col("ts") < col("t0"))
      val delta = evc.filter(col("ts") >= col("t0"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val baseSessions = base
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_s", when(col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1L)
          .otherwise(0L))
        .withColumn("seq", sum(col("new_s")).over(run))
        .groupBy(col("user_id"), col("seq"))
        .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          count(lit(1)).as("events_n"), sum(col("cents")).as("value_cents"))
      val affected = delta.select(col("user_id")).distinct()
        .withColumn("aff", lit(1))
      val bs = baseSessions.crossJoin(broadcast(cut))
        .join(affected, Seq("user_id"), "left")
      val openCond = col("aff") === 1 &&
        col("end_ts") >= col("t0") - expr("INTERVAL 30 MINUTES")
      val untouched = bs.filter(!coalesce(openCond, lit(false)))
        .select(col("user_id"), col("start_ts"), col("end_ts"),
          col("events_n"), col("value_cents"))
      val open = bs.filter(openCond)
        .select(col("user_id"), col("start_ts"), col("end_ts"),
          col("events_n"), col("value_cents"), lit(-1L).as("tie"))
      val items = open.unionByName(delta.select(col("user_id"),
        col("ts").as("start_ts"), col("ts").as("end_ts"),
        lit(1L).as("events_n"), col("cents").as("value_cents"),
        col("event_id").as("tie")))
      val wi = Window.partitionBy(col("user_id")).orderBy(col("start_ts"), col("tie"))
      val runi = wi.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val merged = items
        .withColumn("prev_end", lag(col("end_ts"), 1).over(wi))
        .withColumn("new_s", when(col("prev_end").isNull ||
          (unix_timestamp(col("start_ts")) - unix_timestamp(col("prev_end"))) > 1800, 1L)
          .otherwise(0L))
        .withColumn("seq", sum(col("new_s")).over(runi))
        .groupBy(col("user_id"), col("seq"))
        .agg(min(col("start_ts")).as("start_ts"), max(col("end_ts")).as("end_ts"),
          sum(col("events_n")).as("events_n"), sum(col("value_cents")).as("value_cents"))
      untouched.unionByName(
          merged.select(col("user_id"), col("start_ts"), col("end_ts"),
            col("events_n"), col("value_cents")))
        .select(col("user_id"), col("start_ts").as("session_start_ts"),
          col("end_ts").as("session_end_ts"), col("events_n"), col("value_cents"))
    },
    Some("""WITH ev AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
      ), flagged AS (
        SELECT user_id, event_id, ts, cents,
          CASE WHEN lag(ts, 1) OVER w IS NULL
                 OR date_diff('second', lag(ts, 1) OVER w, ts) > 1800
               THEN 1 ELSE 0 END AS new_s
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        FROM flagged
      )
      SELECT user_id, MIN(ts) AS session_start_ts, MAX(ts) AS session_end_ts,
             COUNT(1) AS events_n, CAST(SUM(cents) AS BIGINT) AS value_cents
      FROM sess GROUP BY user_id, seq"""))

  // ---- q143: cross-correlation lag scan ------------------------------------
  /** q143: lead/lag relationship between two event series — the discrete
    * cross-correlation Σ_d clicks(d)·purchases(d+ℓ) swept over ℓ ∈ [−7, 7]
    * days, the standard "does metric A lead metric B, and by how much"
    * diagnostic. The raw score is exact BIGINT (counts × counts, no
    * normalization → no floats anywhere), days are integer epoch-day
    * numbers (unix_micros DIV 86.4e9 — no date/timezone arithmetic to
    * drift between engines), and the argmax flag breaks ties toward the
    * smallest lag via a total row_number order.
    *
    * Distributed shape: the ONLY data-sized work is one map-side-combined
    * (day, type) count over the scan with the type filter pushed down;
    * everything after runs on |days| rows — the 15-lag sweep is a broadcast
    * cross on the day-grain table, then a |days|-key join and a 15-row
    * aggregate. At 100 TB the lag sweep costs the same as at 100 MB. */
  val xcorrLag: Q = Q(
    "q143_xcorr_lag",
    (s, dir) => {
      val day = expr("unix_micros(ts) DIV 86400000000").as("day")
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(day, col("event_type")).agg(count(lit(1)).as("n"))
      val clicks = daily.filter(col("event_type") === "click")
        .select(col("day"), col("n").as("c"))
      val purchases = daily.filter(col("event_type") === "purchase")
        .select(col("day").as("pday"), col("n").as("p"))
      val lags = s.range(-7, 8).select(col("id").as("lag"))
      val scores = purchases.crossJoin(broadcast(lags))
        // c_d pairs with p_{d+ℓ}: purchase day = d + ℓ ⇒ click day = pday − ℓ
        .withColumn("day", col("pday") - col("lag"))
        .join(clicks, "day")
        .groupBy("lag").agg(sum(col("c") * col("p")).as("score"))
      val full = lags.join(scores, Seq("lag"), "left")
        .withColumn("score", coalesce(col("score"), lit(0L)))
      full.withColumn("is_best",
        row_number().over(Window.orderBy(col("score").desc, col("lag"))) === 1)
    },
    Some("""WITH ev AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, event_type
        FROM events WHERE event_type IN ('click', 'purchase')
      ), c AS (
        SELECT day, count(1) AS c FROM ev WHERE event_type = 'click' GROUP BY day
      ), p AS (
        SELECT day, count(1) AS p FROM ev WHERE event_type = 'purchase' GROUP BY day
      ), l AS (
        SELECT unnest(range(-7, 8)) AS lag
      ), sc AS (
        SELECT l.lag, SUM(c.c * p.p) AS score
        FROM l CROSS JOIN p JOIN c ON c.day = p.day - l.lag
        GROUP BY l.lag
      ), sweep AS (
        SELECT l.lag, COALESCE(sc.score, 0) AS score
        FROM l LEFT JOIN sc ON l.lag = sc.lag
      )
      SELECT lag, CAST(score AS BIGINT) AS score,
             ROW_NUMBER() OVER (ORDER BY score DESC, lag) = 1 AS is_best
      FROM sweep"""))

  // ---- q152: time-bounded funnel -------------------------------------------
  private val funnelWindowDays = 7

  /** q152: the conversion-window variant of q73 — each stage must land
    * within 7 days of the previous one (first view; first click in
    * (t1, t1+7d]; first purchase in (t2, t2+7d]), the form product
    * analytics actually reports ("7-day conversion"), where q73's unbounded
    * chain would credit a purchase months later. Same distributed shape as
    * q73: per-stage scan-filtered conditional mins chained by user-keyed
    * joins, every shuffle on the one natural key; the window bound is a
    * pushed filter, not new data movement. Timestamp+interval arithmetic is
    * exact µs in both engines. */
  val windowedFunnel: Q = Q(
    "q152_windowed_funnel",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val bound = expr(s"INTERVAL $funnelWindowDays DAYS")
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val t2 = ev.filter(col("event_type") === "click").join(t1, "user_id")
        .filter(col("ts") > col("t1") && col("ts") <= col("t1") + bound)
        .groupBy("user_id").agg(min("ts").as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase").join(t2, "user_id")
        .filter(col("ts") > col("t2") && col("ts") <= col("t2") + bound)
        .groupBy("user_id").agg(min("ts").as("t3"))
      ev.select("user_id").distinct()
        .join(t1, Seq("user_id"), "left")
        .join(t2, Seq("user_id"), "left")
        .join(t3, Seq("user_id"), "left")
        .withColumn("reached_stage",
          when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1).otherwise(0))
    },
    Some(s"""WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      ), t1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id
      ), t2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e JOIN t1 ON e.user_id = t1.user_id
        WHERE e.event_type = 'click' AND e.ts > t1.t1
          AND e.ts <= t1.t1 + INTERVAL $funnelWindowDays DAY
        GROUP BY e.user_id
      ), t3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e JOIN t2 ON e.user_id = t2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.t2
          AND e.ts <= t2.t2 + INTERVAL $funnelWindowDays DAY
        GROUP BY e.user_id
      )
      SELECT u.user_id, t1.t1, t2.t2, t3.t3,
             CASE WHEN t3.t3 IS NOT NULL THEN 3 WHEN t2.t2 IS NOT NULL THEN 2
                  WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS reached_stage
      FROM (SELECT DISTINCT user_id FROM ev) u
      LEFT JOIN t1 ON u.user_id = t1.user_id
      LEFT JOIN t2 ON u.user_id = t2.user_id
      LEFT JOIN t3 ON u.user_id = t3.user_id"""))

  // ---- q153: RFM segmentation ----------------------------------------------
  /** q153: RFM customer segmentation over purchase events — recency (days
    * from last purchase to the corpus horizon), frequency (purchase count),
    * monetary (exact cents), each cut into quintiles and concatenated into
    * the classic "R{r}F{f}M{m}" segment label. Scores follow the marketing
    * convention (5 = best: most recent / most frequent / highest spend) via
    * NTILE(5) over TOTAL orders (metric, then user_id) — deterministic in
    * both engines because NTILE's floor-division bucket rule is identical
    * and the order has no ties.
    *
    * Distributed shape: one scan-filtered user aggregation (map-side
    * combined), a broadcast 1-row horizon, then three |users|-row window
    * passes — at 100 TB the windows run on the user dimension, not the
    * event log; if even |users| outgrew a sort, each NTILE is replaceable
    * by q113's rank-arithmetic bucketing. */
  val rfmSegments: Q = Q(
    "q153_rfm_segments",
    (s, dir) => {
      val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val horizon = p.agg(max("day").as("h"))
      val rfm = p.groupBy("user_id")
        .agg(max("day").as("last_day"), count(lit(1)).as("frequency"),
          sum("cents").as("monetary_cents"))
        .crossJoin(broadcast(horizon))
        .withColumn("recency_days", col("h") - col("last_day"))
        .drop("h", "last_day")
      val scored = rfm
        .withColumn("r", lit(6) - ntile(5).over(
          Window.orderBy(col("recency_days"), col("user_id"))))
        .withColumn("f", ntile(5).over(
          Window.orderBy(col("frequency"), col("user_id"))))
        .withColumn("m", ntile(5).over(
          Window.orderBy(col("monetary_cents"), col("user_id"))))
      scored.withColumn("segment",
        concat(lit("R"), col("r"), lit("F"), col("f"), lit("M"), col("m")))
    },
    Some("""WITH p AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
      ), rfm AS (
        SELECT user_id,
               (SELECT MAX(day) FROM p) - MAX(day) AS recency_days,
               COUNT(1) AS frequency,
               CAST(SUM(cents) AS BIGINT) AS monetary_cents
        FROM p GROUP BY user_id
      ), scored AS (
        SELECT user_id, frequency, monetary_cents, recency_days,
          6 - NTILE(5) OVER (ORDER BY recency_days, user_id) AS r,
          NTILE(5) OVER (ORDER BY frequency, user_id) AS f,
          NTILE(5) OVER (ORDER BY monetary_cents, user_id) AS m
        FROM rfm
      )
      SELECT user_id, frequency, monetary_cents, recency_days, r, f, m,
             'R' || CAST(r AS VARCHAR) || 'F' || CAST(f AS VARCHAR)
               || 'M' || CAST(m AS VARCHAR) AS segment
      FROM scored"""))

  // ---- q161: exhaustive sequence-funnel mining -----------------------------
  /** q161: every ordered 3-step event-type sequence (5³ = 125 funnels),
    * mined exhaustively — for each (a, b, c): how many users exhibit a
    * strictly-ordered a→b→c subsequence under earliest-transition
    * semantics (first a, first b after it, first c after that). q73/q152
    * hardcode ONE funnel; this is the discovery query that finds which
    * funnels exist at all (sequential pattern mining restricted to the
    * episode length product analytics actually reads).
    *
    * Earliest-transition is not just canonical, it is what makes the mine
    * cheap: stage k is a conditional MIN against stage k−1's row — the
    * event log is scanned once per stage and every join keys on user_id,
    * so the 125-fold combinatorics multiplies only the per-user STAGE rows
    * (|types| then |types|², dimension-sized), never the event log.
    * Completion counts are exact integers. */
  val sequenceFunnels: Q = Q(
    "q161_sequence_funnels",
    (s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "event_type", "ts")
      // stage 1: first occurrence of every type per user (|users|×|types| rows)
      val f1 = ev.groupBy(col("user_id"), col("event_type").as("ta"))
        .agg(min("ts").as("t1"))
      // stage 2: first b strictly after the user's first a
      val f2 = ev.as("e").join(f1.as("s1"), col("e.user_id") === col("s1.user_id"))
        .filter(col("e.ts") > col("s1.t1"))
        .groupBy(col("e.user_id").as("user_id"), col("s1.ta").as("ta"),
          col("e.event_type").as("tb"))
        .agg(min(col("e.ts")).as("t2"))
      // stage 3: first c strictly after that b
      val f3 = ev.as("e").join(f2.as("s2"), col("e.user_id") === col("s2.user_id"))
        .filter(col("e.ts") > col("s2.t2"))
        .groupBy(col("s2.ta").as("ta"), col("s2.tb").as("tb"),
          col("e.event_type").as("tc"))
        .agg(countDistinct(col("e.user_id")).as("n_users"))
      f3
    },
    Some("""WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      ), f1 AS (
        SELECT user_id, event_type AS ta, MIN(ts) AS t1
        FROM ev GROUP BY user_id, event_type
      ), f2 AS (
        SELECT e.user_id, s1.ta, e.event_type AS tb, MIN(e.ts) AS t2
        FROM ev e JOIN f1 s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        GROUP BY e.user_id, s1.ta, e.event_type
      )
      SELECT s2.ta, s2.tb, e.event_type AS tc,
             COUNT(DISTINCT e.user_id) AS n_users
      FROM ev e JOIN f2 s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
      GROUP BY s2.ta, s2.tb, e.event_type"""))

  // ---- q167: exact EWMA (α = 1/2) ------------------------------------------
  /** q167: exponentially-weighted moving average of daily event counts per
    * type, computed EXACTLY — the smoothing recurrence s_t = (x_t+s_{t−1})/2
    * expands to s_t = (x_1 + Σ_{i≥2} x_i·2^{i−2}) / 2^{t−1}, so the whole
    * state is one BIGINT running sum of shift-weighted counts and the only
    * float op is a single division by an exact power of two per row.
    * The usual "EWMA needs a sequential scan" objection dissolves: the
    * scaled form is a plain prefix sum, distributed like any window — and
    * unlike a double recurrence it is bit-identical at any parallelism
    * (the q105 time-decay trick applied to a recurrence). Headroom:
    * |series| ≈ 30 days here, and a raise_error guard fails the query
    * loudly past 62 rows per series (where Spark's shiftleft and DuckDB's
    * << stop agreeing); for longer series the scaled sum promotes to
    * DECIMAL(38,0) or the window restarts per month at planet scale.
    *
    * Distributed shape: one (type, day) count collapse, then a
    * type-partitioned window over day-grain rows. */
  val exactEwma: Q = Q(
    "q167_exact_ewma",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("rn", row_number().over(w).cast("long"))
        // Loud guard, not a comment: past 64 daily rows Spark's shiftleft
        // wraps the shift amount mod 64 while DuckDB's << yields 0, so the
        // two engines would silently diverge. Fail the query instead; the
        // fix at that scale is the DECIMAL(38,0) promotion / monthly
        // re-windowing described above, chosen deliberately, not silently.
        .withColumn("wterm",
          when(col("rn") > 62, expr(
            "raise_error('q167_exact_ewma: series exceeds 62 daily rows — " +
              "BIGINT scaled EWMA would overflow/diverge cross-engine; " +
              "promote to DECIMAL(38,0) or re-window the series')").cast("long"))
            .when(col("rn") === 1, col("x"))
            .otherwise(col("x") * expr("shiftleft(1L, CAST(rn - 2 AS INT))")))
        .withColumn("s_scaled",
          sum("wterm").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("event_type"), col("day"), col("x"), col("rn"),
          col("s_scaled"),
          (col("s_scaled").cast("double")
            / expr("CAST(shiftleft(1L, CAST(rn - 1 AS INT)) AS DOUBLE)")).as("ewma"))
    },
    Some("""WITH daily AS (
        SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
               count(1) AS x
        FROM events GROUP BY event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
      ), rn AS (
        SELECT event_type, day, x,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS rn
        FROM daily
      ), terms AS (
        SELECT event_type, day, x, rn,
               CASE WHEN rn = 1 THEN x ELSE x * (CAST(1 AS BIGINT) << (rn - 2)) END AS wterm
        FROM rn
      )
      SELECT event_type, day, x, rn,
             CAST(SUM(wterm) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_scaled,
             CAST(SUM(wterm) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST((CAST(1 AS BIGINT) << (rn - 1)) AS DOUBLE) AS ewma
      FROM terms"""))

  // ---- q173: out-of-order ingestion audit (Spearman ρ) ---------------------
  /** q173: how badly does arrival order disagree with event time, per user —
    * the out-of-order-ingestion audit that sizes watermarks and late-data
    * windows (q75's reprocess margin is a guess without it). Arrival order
    * is the event_id sequence; the disagreement statistic is Spearman's
    * rank correlation ρ = 1 − 6·Σd²/(n·(n²−1)) between the arrival rank
    * and the event-time rank — exact: both ranks are tie-free total orders
    * (ts ties break by event_id), Σd² is BIGINT, and ρ is one fixed-shape
    * division. ρ = 1 ⇔ perfectly ordered; the flag marks users whose
    * streams are materially shuffled.
    *
    * Distributed shape: two user-partitioned rank windows over the same
    * shuffle, then a user-keyed aggregate — inversion-COUNTING would be
    * per-pair work; the rank statistic is linear. */
  val oooSpearman: Q = Q(
    "q173_ooo_spearman",
    (s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "event_id", "ts")
      val wArr = Window.partitionBy("user_id").orderBy("event_id")
      val wTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev
        .withColumn("r_arr", row_number().over(wArr).cast("long"))
        .withColumn("r_time", row_number().over(wTime).cast("long"))
        .withColumn("d", col("r_arr") - col("r_time"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("d") * col("d")).as("sum_d2"))
        .filter(col("n") >= 2)
        .withColumn("spearman_rho",
          lit(1.0d) - (lit(6L) * col("sum_d2")).cast("double")
            / (col("n") * (col("n") * col("n") - 1)).cast("double"))
        .withColumn("is_shuffled", col("spearman_rho") < 0.8d)
    },
    Some("""WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      ), ranked AS (
        SELECT user_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS r_arr,
          CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS r_time
        FROM ev
      ), agg AS (
        SELECT user_id, count(1) AS n,
               CAST(SUM((r_arr - r_time) * (r_arr - r_time)) AS BIGINT) AS sum_d2
        FROM ranked GROUP BY user_id
      )
      SELECT user_id, n, sum_d2,
             1.0 - CAST(6 * sum_d2 AS DOUBLE) / CAST(n * (n * n - 1) AS DOUBLE)
               AS spearman_rho,
             (1.0 - CAST(6 * sum_d2 AS DOUBLE) / CAST(n * (n * n - 1) AS DOUBLE)) < 0.8
               AS is_shuffled
      FROM agg WHERE n >= 2"""))

  // ---- q182: inter-order gap / churn-risk stats ----------------------------
  /** q182: per-customer purchase-cadence profile — order count, mean and
    * maximum inter-order gap in whole days, days quiet since the last
    * order (relative to the corpus horizon, so the query is deterministic),
    * and the standard churn-risk flag: quiet longer than twice the
    * customer's own mean gap (single-order customers flag on quiet > the
    * corpus-median gap proxy of 60 days). All gaps are exact integer
    * day differences on epoch days; the mean gap is one division.
    *
    * Distributed shape: one custkey-partitioned lag window and a custkey
    * aggregate over the same shuffle; the horizon is a broadcast 1-row
    * aggregate. */
  val orderGaps: Q = Q(
    "q182_order_gaps",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000").as("day"),
          col("o_orderkey"))
      val w = Window.partitionBy("o_custkey").orderBy(col("day"), col("o_orderkey"))
      val gaps = o.withColumn("gap", col("day") - lag("day", 1).over(w))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), max("day").as("last_day"),
          sum("gap").as("gap_sum"), count("gap").as("n_gaps"), max("gap").as("max_gap"))
      val horizon = o.agg(max("day").as("h"))
      gaps.crossJoin(broadcast(horizon))
        .withColumn("quiet_days", col("h") - col("last_day"))
        .withColumn("mean_gap", when(col("n_gaps") > 0,
          col("gap_sum").cast("double") / col("n_gaps").cast("double")))
        .withColumn("churn_risk",
          when(col("n_gaps") > 0,
            col("quiet_days").cast("double") > lit(2.0d) * col("mean_gap"))
            .otherwise(col("quiet_days") > 60))
        .select("o_custkey", "n_orders", "max_gap", "mean_gap", "quiet_days", "churn_risk")
    },
    Some("""WITH o AS (
        SELECT o_custkey,
               epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day,
               o_orderkey
        FROM orders
      ), g AS (
        SELECT o_custkey, day,
               day - lag(day) OVER (PARTITION BY o_custkey
                 ORDER BY day, o_orderkey) AS gap
        FROM o
      ), agg AS (
        SELECT o_custkey, count(1) AS n_orders, MAX(day) AS last_day,
               CAST(SUM(gap) AS BIGINT) AS gap_sum, count(gap) AS n_gaps,
               CAST(MAX(gap) AS BIGINT) AS max_gap
        FROM g GROUP BY o_custkey
      ), h AS (SELECT MAX(day) AS h FROM o)
      SELECT o_custkey, n_orders, max_gap,
             CASE WHEN n_gaps > 0
               THEN CAST(gap_sum AS DOUBLE) / CAST(n_gaps AS DOUBLE) END AS mean_gap,
             CAST(h.h - last_day AS BIGINT) AS quiet_days,
             CASE WHEN n_gaps > 0
               THEN CAST(h.h - last_day AS DOUBLE)
                 > 2.0 * (CAST(gap_sum AS DOUBLE) / CAST(n_gaps AS DOUBLE))
               ELSE (h.h - last_day) > 60 END AS churn_risk
      FROM agg CROSS JOIN h"""))

  // ---- q188: burstiness (Fano factor) per event type -----------------------
  /** q188: the dispersion index (Fano factor) of per-minute event counts by
    * type — the burstiness diagnostic that separates Poisson-like traffic
    * (F≈1) from bursty sources (F≫1), which decides batch sizing and
    * autoscaling headroom for an ingestion pipeline. Counts are bucketed to
    * minutes; the factor uses exact integer moments over the FULL minute
    * span (empty minutes included via span arithmetic, not materialized):
    * F = σ²/μ = (B·Σc² − n²) / (B·n) with B = spanned minutes, n = events,
    * Σc² over nonzero minutes only (zeros add nothing) — one double
    * division of exact BIGINTs (B·Σc² stays far under 2^63 for any
    * plausible per-minute density; past that the sum promotes to DECIMAL).
    *
    * Distributed shape: one map-side-combined (type, minute) count pass,
    * one per-type moment collapse. Nothing is materialized per empty
    * minute and nothing sorts. */
  val fanoBurstiness: Q = Q(
    "q188_fano_burstiness",
    (s, dir) => {
      val mins = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 60000000").as("minute"))
        .agg(count(lit(1)).as("c"))
      mins.groupBy("event_type")
        .agg(sum("c").as("n"), sum(col("c") * col("c")).as("s2"),
          count(lit(1)).as("active_minutes"),
          (max("minute") - min("minute") + 1).as("span_minutes"))
        .select(col("event_type"), col("n").as("n_events"),
          col("span_minutes"), col("active_minutes"),
          (col("n").cast("double") / col("span_minutes").cast("double"))
            .as("mean_per_minute"),
          ((col("span_minutes") * col("s2") - col("n") * col("n")).cast("double")
            / (col("span_minutes") * col("n")).cast("double")).as("fano"))
    },
    Some("""WITH m AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 60000000 AS minute,
               count(1) AS c
        FROM events GROUP BY 1, 2
      ), g AS (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * c) AS BIGINT) AS s2,
               count(1) AS active_minutes,
               MAX(minute) - MIN(minute) + 1 AS span_minutes
        FROM m GROUP BY event_type
      )
      SELECT event_type, n AS n_events, span_minutes, active_minutes,
             CAST(n AS DOUBLE) / CAST(span_minutes AS DOUBLE) AS mean_per_minute,
             CAST(span_minutes * s2 - n * n AS DOUBLE)
               / CAST(span_minutes * n AS DOUBLE) AS fano
      FROM g"""))

  // ---- q194: event-lateness profile ----------------------------------------
  /** q194: the lateness profile that DECIDES a watermark — per event type,
    * how far behind the maximum event-time seen so far (in ingestion
    * order, proxied by event_id like q173's out-of-order audit) each event
    * arrives, bucketed into power-of-two second classes with cumulative
    * coverage. The row where cum_frac crosses the pipeline's completeness
    * target (say 0.99) IS the `withWatermark` delay to configure; without
    * this profile a watermark is a guess that either drops late data or
    * holds state forever. Lateness is exact integer µs (running max −
    * event time), bucketed via the binary-length idiom (q185) so the grid
    * is engine-portable; cum_frac is the row's single double division.
    *
    * Distributed shape: one per-type window (running max over the natural
    * ingestion order — partition-parallel across types), a (type, bucket)
    * count collapse, a ~40-row cumulative sum. */
  /** q194's core over any (event_type, event_id, us) frame — factored so the
    * spec can drive the nonzero-lateness path with a planted out-of-order
    * stream (the synthetic testdata arrives fully in order, where the
    * profile correctly collapses to "bucket ≤1 s, cum_frac 1.0": a 0-second
    * watermark already retains everything). */
  private[graft] def latenessProfileOf(ev: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val late = ev
        .withColumn("lateness_s",
          expr("(max(us) OVER (PARTITION BY event_type ORDER BY event_id " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us) DIV 1000000"))
        .withColumn("bucket", length(bin(col("lateness_s"))).cast("long"))
      val byBucket = late.groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), max("lateness_s").as("max_lateness_s"))
      val cw = Window.partitionBy("event_type").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("event_type")
      byBucket
        .withColumn("cum_n", sum("n").over(cw))
        .withColumn("total", sum("n").over(tw))
        .select(col("event_type"), col("bucket"),
          (expr("shiftleft(1L, CAST(bucket AS INT))") - 1).as("max_bucket_s"),
          col("n"), col("max_lateness_s"), col("cum_n"),
          (col("cum_n").cast("double") / col("total").cast("double"))
            .as("cum_frac"))
  }

  val latenessProfile: Q = Q(
    "q194_lateness_profile",
    (s, dir) => latenessProfileOf(Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), expr("unix_micros(ts)").as("us"))),
    Some("""WITH e AS (
        SELECT event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
      ), late AS (
        SELECT event_type,
               (MAX(us) OVER (PARTITION BY event_type ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us)
                 // 1000000 AS lateness_s
        FROM e
      ), b AS (
        SELECT event_type,
               CAST(length(bin(lateness_s)) AS BIGINT) AS bucket,
               count(1) AS n, MAX(lateness_s) AS max_lateness_s
        FROM late GROUP BY 1, 2
      )
      SELECT event_type, bucket,
             (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1 AS max_bucket_s,
             n, max_lateness_s,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_n,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)
               AS cum_frac
      FROM b"""))

  // ---- q210: intra-day duplicate-event rate --------------------------------
  /** q210: per-day duplicate-delivery rate — the fraction of events whose
    * full identity tuple (user, type, value) already occurred earlier the
    * same day. At-least-once ingestion (Kafka redeliveries, client
    * retries) shows up exactly here, and the per-day series is what an
    * ingestion SLO tracks: a redelivery storm is a step in dup_frac days
    * before it is a step in volume. Rank-free formulation: per identity
    * tuple k occurrences contribute k−1 duplicates, so the whole report is
    * two keyed counts — no window, no ordering tie-break to pin.
    *
    * Distributed shape: one (day, user, type, value)-keyed count with
    * map-side combine, one day-keyed roll-up; |days| output rows. */
  val intradayDupRate: Q = Q(
    "q210_intraday_dup_rate",
    (s, dir) => {
      Tables.events(s, dir)
        .select(date_trunc("day", col("ts")).as("day"),
          col("user_id"), col("event_type"), col("value"))
        .groupBy("day", "user_id", "event_type", "value")
        .agg(count(lit(1)).as("k"))
        .groupBy("day")
        .agg(sum("k").as("n_events"),
          sum(col("k") - 1L).as("n_dups"),
          count(lit(1)).as("n_identities"))
        .select(col("day"), col("n_events"), col("n_dups"), col("n_identities"),
          (col("n_dups").cast("double") / col("n_events").cast("double"))
            .as("dup_frac"))
    },
    Some("""WITH ev AS (
        SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
               user_id, event_type, value
        FROM events
      ), ident AS (
        SELECT day, user_id, event_type, value, count(1) AS k
        FROM ev GROUP BY 1, 2, 3, 4
      )
      SELECT day, CAST(SUM(k) AS BIGINT) AS n_events,
             CAST(SUM(k - 1) AS BIGINT) AS n_dups,
             count(1) AS n_identities,
             CAST(SUM(k - 1) AS DOUBLE) / CAST(SUM(k) AS DOUBLE) AS dup_frac
      FROM ident GROUP BY day"""))

  // ---- q240: HyperLogLog distinct, exact-arithmetic registers --------------

  /** q240's register count (2^8 = first two md5 hex chars) and the fixed-
    * point scale for the harmonic-mean sum (10^18 keeps every register term
    * inside BIGINT; the floor truncation for ranks > 18 perturbs a term by
    * < 1 scaled unit — noise orders below the estimator's own ~4% standard
    * error, and identically floored in both engines). */
  private val hllM = 256
  // fixed-point scale for the harmonic sum — 2^45, NOT a power of ten: each
  // register term 2^45 div 2^M is then an exact power of two for M ≤ 45
  // (ranks 46–49 floor to 0 — a ≤ 2^-46-relative perturbation), and the
  // worst-case sum is m·2^45 = 2^53 exactly, so EVERY possible harm_sum is
  // an integer ≤ 2^53 — exactly representable in a double, making the
  // HUGEINT/DECIMAL → DOUBLE cast exact in both engines by construction
  // (DuckDB's HUGEINT→DOUBLE is not correctly rounded above 2^53; a 10^18
  // scale showed data-dependent final-ulp drift at sf0.01)
  private val hllScale = 1L << 45
  // alpha_m · m² · 2^45 — the HLL bias constant for m ≥ 128 (Flajolet et
  // al. 2007, α_m = 0.7213/(1 + 1.079/m)), pre-multiplied on the driver so
  // the estimate is ONE double division; embedded as the identical literal
  // in both engines (the q228 technique)
  private val hllAlphaNum: Double =
    0.7213 / (1.0 + 1.079 / hllM) * hllM * hllM * hllScale.toDouble
  // the paper's small-range branch needs m·ln(m/V) — ln() is not
  // cross-engine bit-stable (the q116 rule), but V only takes 255 values,
  // so the whole correction is a driver-computed literal lookup table
  // joined on the empty-register count (the q228 closed-form move, in
  // table form)
  private val hllLinearCounting: Seq[(Int, Double)] =
    (1 until hllM).map(v => v -> hllM * math.log(hllM.toDouble / v))

  /** q240: per-event-type distinct DAILY-ACTIVE identities (user × day)
    * via a fully-oracled HyperLogLog — the md5 family makes the sketch
    * itself deterministic and identical in both engines (the q78 count-min
    * move, applied to HLL): bucket = first 2 md5 hex chars (m = 256
    * registers), the next 12 hex chars are a 48-bit value whose
    * leading-zero rank is exact integer string algebra (49 − len(bin(v))),
    * and each register keeps MAX(rank).
    *
    * This is the mergeable-sketch shape 100 TB cardinality estimation
    * actually uses: max() is order- and duplicate-insensitive, so the plan
    * aggregates RAW events with map-side combine straight to |types|·256
    * register rows — no distinct shuffle, no state proportional to
    * cardinality; union across shards/days is register-wise max. The exact
    * distinct count (computed alongside, the expensive way) turns the query
    * into its own accuracy report: observed |relative error| at m = 256
    * should sit within a few standard errors (1.04/√m ≈ 6.5%).
    *
    * FP shape: the harmonic sum Σ 2^−M_j is fixed-point BIGINT per term
    * (2^45 DIV 2^M — an exact power of two), summed over all m registers
    * including the empty-register grid rows; every possible sum is an
    * integer ≤ m·2^45 = 2^53, so its DOUBLE cast is exact in both engines
    * (see [[hllScale]]) and the raw estimate is one double division of
    * bit-identical quantities.
    * The paper's small-range branch (E ≤ 2.5m with empty registers →
    * linear counting m·ln(m/V)) is applied through the
    * [[hllLinearCounting]] literal table, so the branch predicate and both
    * branch values are bit-identical cross-engine; the 2^32 large-range
    * branch is structurally unreachable in a 48-bit hash space. */
  /** Row-local HLL decomposition of a (batch OR streaming) events frame:
    * (event_type, bucket, rank) — everything before the register groupBy,
    * shared with the streaming registry (q244) so both maintain the
    * identical register family. */
  private[graft] def hllRowTerms(events: DataFrame): DataFrame = {
    val keySql =
      "md5(concat('hll|', CAST(user_id AS STRING), '|', CAST(CAST(ts AS DATE) AS STRING)))"
    events
      .select(col("event_type"),
        expr(s"substring($keySql, 1, 2)").as("bucket"),
        expr(s"CAST(conv(substring($keySql, 3, 12), 16, 10) AS BIGINT)")
          .as("v"))
      .withColumn("rank",
        when(col("v") === 0L, lit(49)).otherwise(lit(49) - length(bin(col("v")))))
      .drop("v")
  }

  /** Register table (event_type, bucket, m) → per-type HLL estimate with
    * the literal-table small-range branch: (event_type, n_active, max_rank,
    * hll_raw, hll_estimate). Shared by q240 and the streaming q244. */
  private[graft] def hllEstimateFromRegs(
      s: SparkSession, regs: DataFrame): DataFrame = {
    val grid = regs.select("event_type").distinct()
      .crossJoin(broadcast(s.range(hllM.toLong)
        .select(format_string("%02x", col("id")).as("bucket"))))
    val sums = grid.join(regs, Seq("event_type", "bucket"), "left")
      .withColumn("term",
        expr(s"$hllScale div shiftleft(CAST(1 AS BIGINT), coalesce(m, 0))"))
      .groupBy("event_type").agg(
        sum(col("term")).as("harm_sum"),
        sum(when(col("m").isNotNull, 1L).otherwise(0L)).as("n_active"),
        max(coalesce(col("m"), lit(0))).cast("long").as("max_rank"))
    val lc = {
      import s.implicits._
      hllLinearCounting.toDF("v_empty", "lc_est")
        .select(col("v_empty").cast("long"), col("lc_est"))
    }
    sums
      .withColumn("hll_raw",
        lit(hllAlphaNum) / col("harm_sum").cast("double"))
      .withColumn("v_empty", lit(hllM.toLong) - col("n_active"))
      .join(broadcast(lc), Seq("v_empty"), "left")
      .withColumn("hll_estimate",
        when(col("hll_raw") <= lit(2.5 * hllM) && col("v_empty") > 0L,
          col("lc_est")).otherwise(col("hll_raw")))
      .select("event_type", "n_active", "max_rank", "hll_raw", "hll_estimate")
  }

  /** The hashed/regs/grid/sums/lc/staged CTE chain both HLL oracles share;
    * `staged` carries (event_type, n_active, max_rank, hll_raw, v_empty)
    * and `lc` the literal linear-counting table. */
  private[graft] lazy val hllOracleCtes: String = {
    val keySql =
      "md5('hll|' || CAST(user_id AS VARCHAR) || '|' || CAST(ts::DATE AS VARCHAR))"
    val lcValues = hllLinearCounting
      .map { case (v, e) => s"($v, ${graft.SqlLit.double(e)})" }
      .mkString(", ")
    s"""hashed AS (
        SELECT event_type,
               substr($keySql, 1, 2) AS bucket,
               ('0x' || substr($keySql, 3, 12))::BIGINT AS v
        FROM events
      ), regs AS (
        SELECT event_type, bucket,
               MAX(CASE WHEN v = 0 THEN 49 ELSE 49 - len(bin(v)) END) AS m
        FROM hashed GROUP BY event_type, bucket
      ), grid AS (
        SELECT event_type, printf('%02x', i) AS bucket
        FROM (SELECT DISTINCT event_type FROM events)
        CROSS JOIN (SELECT unnest(range(0, $hllM)) AS i)
      ), sums AS (
        SELECT g.event_type,
               SUM($hllScale // (CAST(1 AS BIGINT) << coalesce(r.m, 0)))
                 AS harm_sum,
               CAST(SUM(CASE WHEN r.m IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_active,
               CAST(MAX(coalesce(r.m, 0)) AS BIGINT) AS max_rank
        FROM grid g LEFT JOIN regs r
          ON g.event_type = r.event_type AND g.bucket = r.bucket
        GROUP BY g.event_type
      ), lc(v_empty, lc_est) AS (
        SELECT * FROM (VALUES $lcValues)
      ), staged AS (
        SELECT event_type, n_active, max_rank,
               ${graft.SqlLit.double(hllAlphaNum)} / CAST(harm_sum AS DOUBLE)
                 AS hll_raw,
               $hllM - n_active AS v_empty
        FROM sums
      )"""
  }
  /** The branch expression over `staged`/`lc` columns. */
  private[graft] val hllEstimateCaseSql: String =
    s"""CASE WHEN hll_raw <= ${2.5 * hllM} AND v_empty > 0
             THEN lc_est ELSE hll_raw END"""

  val hllDistinct: Q = Q(
    "q240_hll_distinct",
    (s, dir) => {
      val regs = hllRowTerms(Tables.events(s, dir))
        .groupBy("event_type", "bucket").agg(max("rank").as("m"))
      val exact = Tables.events(s, dir).groupBy("event_type")
        .agg(countDistinct(col("user_id"), to_date(col("ts"))).as("n_exact"))
      hllEstimateFromRegs(s, regs).join(exact, Seq("event_type"))
        .withColumn("rel_err",
          (col("hll_estimate") - col("n_exact").cast("double"))
            / col("n_exact").cast("double"))
        .select("event_type", "n_exact", "n_active", "max_rank",
          "hll_raw", "hll_estimate", "rel_err")
    },
    Some(s"""WITH $hllOracleCtes, exact AS (
        SELECT event_type,
               CAST(count(DISTINCT user_id || '|' || CAST(ts::DATE AS VARCHAR))
                    AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
      )
      SELECT s.event_type, n_exact, n_active, max_rank, hll_raw,
             $hllEstimateCaseSql AS hll_estimate,
             ($hllEstimateCaseSql
               - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
      FROM staged s LEFT JOIN lc USING (v_empty)
      JOIN exact e ON s.event_type = e.event_type"""))

  // ---- q241: KMV distinct via the custom Catalyst aggregate ----------------

  /** q241's sketch size. (k−1)·2^48 stays far inside BIGINT. */
  private val kmvK = 256

  /** q241: the same per-type daily-active cardinality as q240, estimated
    * through the OTHER classical sketch — K-minimum-values (Bar-Yossef et
    * al. 2002) — implemented as a native Catalyst
    * [[graft.functions.KmvMinSet]] TypedImperativeAggregate: the plan's
    * ordinary partial aggregation carries bounded ≤ k·8-byte buffers of the
    * k smallest distinct 48-bit md5 values per (type), merged with
    * union-then-trim, instead of shuffling the distinct key stream. The
    * estimator is pure integer arithmetic: θ = k-th minimum, estimate =
    * (k−1)·2^48 DIV θ — exact floor division in both engines — and when a
    * group holds fewer than k distinct values the sketch IS the exact count
    * (n_held), so the small-range branch is trivially exact (no ln(), no
    * lookup table — KMV's advantage over q240's HLL in the exactness
    * regime).
    *
    * The DuckDB oracle recomputes θ relationally (DISTINCT → row_number →
    * rank k) — a different algorithm over a different execution model
    * landing on the identical integers, which is precisely what makes a
    * custom imperative aggregate safe to trust. */
  /** q241 stage 1 — the hashed item stream (event_type, v): 48-bit md5 of
    * the user-day key. Works unchanged on a STREAMING events frame (row-
    * local), which is what lets q254 share it. */
  private[graft] def kmvItemsOf(events: DataFrame): DataFrame = {
    val keySql =
      "md5(concat('kmv|', CAST(user_id AS STRING), '|', CAST(CAST(ts AS DATE) AS STRING)))"
    events.select(col("event_type"),
      expr(s"CAST(conv(substring($keySql, 1, 12), 16, 10) AS BIGINT)").as("v"))
  }

  /** q241 stage 2 — the per-type KMV sketch via the custom
    * TypedImperativeAggregate. Also the STREAMING state shape for q254:
    * one ≤ k·8-byte buffer per event type, updated/merged by the identical
    * aggregate code batch and streaming. */
  private[graft] def kmvSketchOf(s: SparkSession, items: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    items.groupBy("event_type")
      .agg(expr(s"kmv_minset(v, $kmvK)").as("sk"))
      .select(col("event_type"), col("sk.n_held").as("n_held"),
        col("sk.theta").as("theta"))
  }

  /** q241 stage 3 — estimate + exact-count audit off a materialized sketch
    * table (streaming-agnostic: q254 feeds it the streamed registry). */
  private[graft] def kmvReport(s: SparkSession, sk: DataFrame, dir: String): DataFrame = {
    val exact = Tables.events(s, dir).groupBy("event_type")
      .agg(countDistinct(col("user_id"), to_date(col("ts"))).as("n_exact"))
    sk.join(exact, Seq("event_type"))
      .withColumn("kmv_estimate",
        when(col("n_held") < kmvK.toLong, col("n_held")).otherwise(
          expr(s"CAST((${kmvK - 1} * 281474976710656) div theta AS BIGINT)")))
      .withColumn("rel_err",
        (col("kmv_estimate").cast("double") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"))
      .select("event_type", "n_exact", "n_held", "theta",
        "kmv_estimate", "rel_err")
  }

  /** q254 shares this oracle verbatim (the q248/q78 pattern). */
  private[graft] def kmvOracle: Option[String] = kmvDistinct.oracle

  val kmvDistinct: Q = Q(
    "q241_kmv_distinct",
    (s, dir) => kmvReport(s,
      kmvSketchOf(s, kmvItemsOf(Tables.events(s, dir))), dir),
    Some(s"""WITH hashed AS (
        SELECT event_type,
               ('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)
                  || '|' || CAST(ts::DATE AS VARCHAR)), 1, 12))::BIGINT AS v
        FROM events
      ), dv AS (
        SELECT DISTINCT event_type, v FROM hashed
      ), ranked AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
        FROM dv
      ), st AS (
        SELECT event_type,
               CAST(LEAST(count(1), $kmvK) AS BIGINT) AS n_held,
               MAX(CASE WHEN rn = $kmvK THEN v END) AS theta
        FROM ranked GROUP BY event_type
      ), exact AS (
        SELECT event_type,
               CAST(count(DISTINCT user_id || '|' || CAST(ts::DATE AS VARCHAR))
                    AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
      )
      SELECT s.event_type, n_exact, n_held, theta,
             CAST(CASE WHEN n_held < $kmvK THEN n_held
                  ELSE (${kmvK - 1} * 281474976710656) // theta END
                  AS BIGINT) AS kmv_estimate,
             (CAST(CASE WHEN n_held < $kmvK THEN n_held
                   ELSE (${kmvK - 1} * 281474976710656) // theta END AS DOUBLE)
               - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
      FROM st s JOIN exact e ON s.event_type = e.event_type"""))

  // ---- q263 stages: streaming priority sample (shared batch↔stream) --------
  /** Sample size (events: ≥1000 rows at every sf, so the τ branch is always
    * live). */
  private[graft] val psK = 64
  private[graft] val psScale = 1L << 30

  /** q263 stage 1 — the weighted item stream (event_id, w, pri): w = exact
    * cents of the event value (positive-weight items only, the DLT premise),
    * u = 30-bit md5 of the event id, pri = ⌊w·2^30 / m⌋ exact BIGINT.
    * Row-local, so it runs unchanged on a STREAMING events frame. */
  private[graft] def psItemsOf(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events.select(col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("w"))
      .filter(col("w") >= 1L)
      .withColumn("m",
        expr("CAST(conv(substring(md5(concat('psamp|', CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT)")
          % psScale + 1L)
      .withColumn("pri", expr(s"(w * $psScale) div m"))

  /** q263 stage 2 — the bounded mergeable summary: one global
    * `priority_topk(pri, event_id, K+1)` row. This is the STREAMING STATE
    * SHAPE: ≤ (K+1)·16 bytes total, updated/merged by the identical
    * aggregate code batch and streaming (the q241/q254 KMV pattern applied
    * to the fourth classic summary). */
  private[graft] def psSketchOf(s: org.apache.spark.sql.SparkSession,
      items: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.VectorFunctions.register(s)
    items.agg(expr(s"priority_topk(pri, event_id, ${psK + 1})").as("top"))
  }

  /** q263 stage 3 — sample + inverse-probability estimates off a
    * materialized summary (streaming-agnostic): explode the held array,
    * τ = the (K+1)-th priority (0 if the stream held ≤ K items), join
    * weights back by id (sample-bounded), ŵ = max(w, τ), with the
    * est_total / true_total audit columns — q261's output shape on the
    * event stream. */
  private[graft] def psReport(s: org.apache.spark.sql.SparkSession,
      sk: org.apache.spark.sql.DataFrame, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val items = psItemsOf(Tables.events(s, dir))
    val entries = sk.select(posexplode(col("top")).as(Seq("pos", "e")))
      .select((col("pos") + 1).as("rn"), col("e.pri").as("pri"),
        col("e.id").as("event_id"))
    val tau = entries.agg(coalesce(
      max(when(col("rn") === psK + 1, col("pri"))), lit(0L)).as("tau"))
    val sample = entries.filter(col("rn") <= psK)
      .join(items.select("event_id", "w"), Seq("event_id"))
      .crossJoin(broadcast(tau))
      .withColumn("w_hat", greatest(col("w"), col("tau")))
    val est = sample.agg(sum("w_hat").cast("long").as("est_total"))
    val tot = items.agg(sum("w").cast("long").as("true_total"))
    sample.crossJoin(broadcast(est)).crossJoin(broadcast(tot))
      .select("event_id", "w", "pri", "tau", "w_hat", "est_total", "true_total")
  }

  /** q263's DuckDB oracle — the direct batch replay of the identical
    * integer arithmetic (the streamed summary is a pure function of the
    * event SET, so batch SQL reproduces it bit-for-bit). */
  private[graft] def psOracle: Option[String] =
    Some(s"""WITH items AS (
        SELECT event_id, CAST(round(value * 100) AS BIGINT) AS w,
               ('0x' || substr(md5('psamp|' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                 % $psScale + 1 AS m
        FROM events
        WHERE CAST(round(value * 100) AS BIGINT) >= 1
      ), pri AS (
        SELECT event_id, w, (w * $psScale) // m AS pri FROM items
      ), ranked AS (
        SELECT event_id, w, pri,
               row_number() OVER (ORDER BY pri DESC, event_id) AS rn
        FROM pri
      ), tau AS (
        SELECT COALESCE(MAX(CASE WHEN rn = ${psK + 1} THEN pri END), 0) AS tau
        FROM ranked WHERE rn <= ${psK + 1}
      ), sample AS (
        SELECT event_id, w, pri, tau, GREATEST(w, tau) AS w_hat
        FROM ranked CROSS JOIN tau WHERE rn <= $psK
      ), est AS (
        SELECT CAST(SUM(w_hat) AS BIGINT) AS est_total FROM sample
      ), tot AS (
        SELECT CAST(SUM(w) AS BIGINT) AS true_total FROM pri
      )
      SELECT event_id, w, pri, tau, w_hat, est_total, true_total
      FROM sample CROSS JOIN est CROSS JOIN tot""")

  // ---- q242: KMV sketch set algebra (audience overlap) ---------------------

  /** q242: pairwise audience overlap between event types FROM SKETCHES ONLY
    * — the DataSketches-style set algebra that makes bounded sketches worth
    * keeping at 100 TB: once each type's [[graft.functions.KmvMinArray]]
    * (k = 256 smallest distinct 48-bit md5 values of the user-day key) is
    * materialized, every union/intersection estimate is a ROW-LOCAL array
    * HOF over two ≤ k-long arrays — no rescan of the corpus per pair, and
    * a new pair costs microseconds regardless of corpus size.
    *
    * Correctness of the composition: the k smallest of
    * array_union(A.mins, B.mins) are provably the k smallest of the full
    * A ∪ B (each side's sketch holds its k global minima, so nothing
    * smaller was lost), giving θ_U and est_union = (k−1)·2^48 DIV θ_U
    * exactly as if the union had been sketched directly; ρ = how many of
    * those union minima appear in BOTH sides' sketches estimates the
    * Jaccard numerator, and est_inter = ρ·est_union DIV |K_U|. When the
    * MERGED sketch stays below k the inputs were complete and so is the
    * union — every estimate degrades to exact (est_union = |A∪B|,
    * est_inter = ρ); note two complete sub-k sets can still union past k,
    * where the θ-estimator takes over seamlessly. All
    * sketch arithmetic is exact integers; the only doubles are the final
    * error columns, guarded against zero denominators.
    *
    * Exact union/intersection (the expensive way) are computed alongside
    * over the same 48-bit domain, making the query its own accuracy
    * report. */
  val kmvOverlap: Q = Q(
    "q242_kmv_overlap",
    (s, dir) => {
      graft.functions.VectorFunctions.register(s)
      val keySql =
        "md5(concat('kmv|', CAST(user_id AS STRING), '|', CAST(CAST(ts AS DATE) AS STRING)))"
      val hashed = Tables.events(s, dir)
        .select(col("event_type"),
          expr(s"CAST(conv(substring($keySql, 1, 12), 16, 10) AS BIGINT)")
            .as("v"))
      val dv = hashed.distinct()
      val sk = hashed.groupBy("event_type")
        .agg(expr(s"kmv_minarray(v, $kmvK)").as("mins"))
        .join(dv.groupBy("event_type").agg(count(lit(1)).as("n_exact")),
          Seq("event_type"))
      val inter = dv.as("x").join(dv.as("y"),
          col("x.v") === col("y.v")
            && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("exact_inter"))
      val pairs = sk.select(col("event_type").as("type_a"),
          col("mins").as("mins_a"), col("n_exact").as("n_a"))
        .join(sk.select(col("event_type").as("type_b"),
          col("mins").as("mins_b"), col("n_exact").as("n_b")),
          col("type_a") < col("type_b"))
        .join(inter, Seq("type_a", "type_b"), "left")
        .na.fill(0L, Seq("exact_inter"))
      pairs
        .withColumn("ku",
          expr(s"slice(array_sort(array_union(mins_a, mins_b)), 1, $kmvK)"))
        .withColumn("nu", expr("size(ku)").cast("long"))
        .withColumn("rho", expr(
          """CAST(size(filter(ku, x -> array_contains(mins_a, x)
                                   AND array_contains(mins_b, x))) AS BIGINT)"""))
        // exact ⟺ the MERGED sketch is below k (two complete sub-k sets can
        // still union past k, where θ takes over — both sides' k smallest
        // are present, so ku[k] is the true union's k-th minimum either way)
        .withColumn("est_union",
          when(col("nu") < kmvK.toLong, col("nu")).otherwise(expr(
            s"CAST((${kmvK - 1} * 281474976710656) div element_at(ku, $kmvK) AS BIGINT)")))
        // rho·est_union can reach 256·(k−1)·2^48 ≈ 1.8e19 > BIGINT at
        // extreme cardinalities — DECIMAL(38,0)/HUGEINT (the q221 rule)
        .withColumn("est_inter", expr(
          "CAST((CAST(rho AS DECIMAL(38,0)) * est_union) div nu AS BIGINT)"))
        .withColumn("exact_union",
          col("n_a") + col("n_b") - col("exact_inter"))
        .withColumn("err_union",
          (col("est_union").cast("double") - col("exact_union").cast("double"))
            / col("exact_union").cast("double"))
        .withColumn("err_inter",
          when(col("exact_inter") > 0L,
            (col("est_inter").cast("double") - col("exact_inter").cast("double"))
              / col("exact_inter").cast("double")))
        .select("type_a", "type_b", "n_a", "n_b", "est_union", "exact_union",
          "est_inter", "exact_inter", "err_union", "err_inter")
    },
    Some(s"""WITH hashed AS (
        SELECT DISTINCT event_type,
               ('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)
                  || '|' || CAST(ts::DATE AS VARCHAR)), 1, 12))::BIGINT AS v
        FROM events
      ), ranked AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
        FROM hashed
      ), sk AS (
        SELECT event_type,
               list(v ORDER BY v) FILTER (rn <= $kmvK) AS mins,
               CAST(count(1) AS BIGINT) AS n_exact
        FROM ranked GROUP BY event_type
      ), inter AS (
        SELECT x.event_type AS type_a, y.event_type AS type_b,
               CAST(count(1) AS BIGINT) AS exact_inter
        FROM hashed x JOIN hashed y
          ON x.v = y.v AND x.event_type < y.event_type
        GROUP BY x.event_type, y.event_type
      ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.mins AS mins_a, b.mins AS mins_b,
               a.n_exact AS n_a, b.n_exact AS n_b,
               coalesce(i.exact_inter, 0) AS exact_inter
        FROM sk a JOIN sk b ON a.event_type < b.event_type
        LEFT JOIN inter i
          ON i.type_a = a.event_type AND i.type_b = b.event_type
      ), algebra AS (
        SELECT *,
               list_sort(list_distinct(list_concat(mins_a, mins_b)))[1:$kmvK]
                 AS ku
        FROM pairs
      ), est AS (
        SELECT type_a, type_b, n_a, n_b, exact_inter,
               CAST(len(ku) AS BIGINT) AS nu,
               CAST(len(list_filter(ku, x -> list_contains(mins_a, x)
                                        AND list_contains(mins_b, x)))
                    AS BIGINT) AS rho,
               CAST(CASE WHEN len(ku) < $kmvK
                    THEN len(ku)
                    ELSE (${kmvK - 1} * 281474976710656) // ku[$kmvK] END
                    AS BIGINT) AS est_union,
               n_a + n_b - exact_inter AS exact_union
        FROM algebra
      )
      SELECT type_a, type_b, n_a, n_b, est_union, exact_union,
             CAST((CAST(rho AS HUGEINT) * est_union) // nu AS BIGINT) AS est_inter,
             exact_inter,
             (CAST(est_union AS DOUBLE) - CAST(exact_union AS DOUBLE))
               / CAST(exact_union AS DOUBLE) AS err_union,
             CASE WHEN exact_inter > 0
                  THEN (CAST((CAST(rho AS HUGEINT) * est_union) // nu AS DOUBLE)
                        - CAST(exact_inter AS DOUBLE))
                       / CAST(exact_inter AS DOUBLE) END AS err_inter
      FROM est"""))

  // ---- q243: Bloom filter false-positive audit -----------------------------

  /** q243's filter geometry: m bits, j double-hashed probes per key
    * (Kirsch–Mitzenmacher: h1 + i·h2 mod m preserves the Bloom FPR with
    * two base hashes). */
  private val bloomM = 16384L
  private val bloomJ = 3

  /** q243: an md5-family Bloom filter over the 'purchase' audience's
    * user-day keys, probed with every NON-member user-day — the pre-join
    * membership gate a 100 TB pipeline ships to executors instead of a
    * distinct-key set (Spark's own runtime row-group skipping works the
    * same way). Because the hash family is the engine-portable md5 double
    * hash, the ENTIRE filter — every set bit — is deterministic, so unlike
    * production bloom filters this one is fully oracled: the bit table,
    * the exact false-positive count against ground truth, and the
    * fill-ratio FPR prediction (B/m)^j (the observed-fill form — exact
    * given B, no data-dependent pow over n, and written as the identical
    * three-factor double product in both engines).
    *
    * Distributed shape: build = explode members ×j → distinct positions
    * (≤ m = 16k rows — broadcastable anywhere); probe = anti-join for the
    * non-member population, explode ×j, ONE broadcast semi-join against
    * the bit table, per-key all-positions-present fold. Output: one row —
    * geometry, fill, exact FPR vs predicted. */
  val bloomAudit: Q = Q(
    "q243_bloom_audit",
    (s, dir) => {
      val keys = Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(conv(substring(md5(concat('blm|', CAST(user_id AS STRING), '|', CAST(CAST(ts AS DATE) AS STRING))), 1, 12), 16, 10) AS BIGINT)").as("h1"),
          expr("CAST(conv(substring(md5(concat('blm|', CAST(user_id AS STRING), '|', CAST(CAST(ts AS DATE) AS STRING))), 13, 12), 16, 10) AS BIGINT)").as("h2"))
      val members = keys.filter(col("event_type") === "purchase")
        .select("h1", "h2").distinct()
      val nonMembers = keys.filter(col("event_type") =!= "purchase")
        .select("h1", "h2").distinct()
        .join(members, Seq("h1", "h2"), "left_anti")
      val probes = array((0 until bloomJ).map(i =>
        expr(s"(h1 + $i * h2) % $bloomM")): _*)
      val bits = members.select(explode(probes).as("pos")).distinct()
      val stats = broadcast(bits.agg(count(lit(1)).as("n_bits_set"))
        .crossJoin(members.agg(count(lit(1)).as("n_members"))))
      val fp = nonMembers
        .select(col("h1"), col("h2"),
          explode(array_distinct(probes)).as("pos"))
        .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("pos"), "left")
        .groupBy("h1", "h2")
        .agg((count(lit(1)) === sum(coalesce(col("hit"), lit(0L))))
          .as("all_hit"))
        .agg(count(lit(1)).as("n_probe_keys"),
          sum(when(col("all_hit"), 1L).otherwise(0L)).as("n_false_pos"))
      fp.crossJoin(stats)
        .select(lit(bloomM).as("m_bits"), lit(bloomJ.toLong).as("j_hashes"),
          col("n_members"), col("n_bits_set"), col("n_probe_keys"),
          col("n_false_pos"))
        .withColumn("fill_frac",
          col("n_bits_set").cast("double") / lit(bloomM.toDouble))
        .withColumn("fpr_exact",
          col("n_false_pos").cast("double") / col("n_probe_keys").cast("double"))
        .withColumn("fpr_predicted",
          col("fill_frac") * col("fill_frac") * col("fill_frac"))
    },
    Some(s"""WITH keys AS (
        SELECT event_type,
               ('0x' || substr(md5('blm|' || CAST(user_id AS VARCHAR)
                  || '|' || CAST(ts::DATE AS VARCHAR)), 1, 12))::BIGINT AS h1,
               ('0x' || substr(md5('blm|' || CAST(user_id AS VARCHAR)
                  || '|' || CAST(ts::DATE AS VARCHAR)), 13, 12))::BIGINT AS h2
        FROM events
      ), members AS (
        SELECT DISTINCT h1, h2 FROM keys WHERE event_type = 'purchase'
      ), non_members AS (
        SELECT DISTINCT h1, h2 FROM keys WHERE event_type <> 'purchase'
        EXCEPT SELECT h1, h2 FROM members
      ), bits AS (
        SELECT DISTINCT (h1 + i * h2) % $bloomM AS pos
        FROM members CROSS JOIN (SELECT unnest(range(0, $bloomJ)) AS i)
      ), stats AS (
        SELECT (SELECT CAST(count(1) AS BIGINT) FROM bits) AS n_bits_set,
               (SELECT CAST(count(1) AS BIGINT) FROM members) AS n_members
      ), probe AS (
        SELECT h1, h2, unnest(list_distinct(list_transform(range(0, $bloomJ),
               i -> (h1 + i * h2) % $bloomM))) AS pos
        FROM non_members
      ), fp AS (
        SELECT CAST(count(1) AS BIGINT) AS n_probe_keys,
               CAST(SUM(CASE WHEN all_hit THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_false_pos
        FROM (SELECT p.h1, p.h2,
                     count(1) = SUM(CASE WHEN b.pos IS NOT NULL
                                         THEN 1 ELSE 0 END) AS all_hit
              FROM probe p LEFT JOIN bits b ON p.pos = b.pos
              GROUP BY p.h1, p.h2)
      )
      SELECT CAST($bloomM AS BIGINT) AS m_bits,
             CAST($bloomJ AS BIGINT) AS j_hashes,
             n_members, n_bits_set, n_probe_keys, n_false_pos,
             CAST(n_bits_set AS DOUBLE) / ${bloomM.toDouble}e0 AS fill_frac,
             CAST(n_false_pos AS DOUBLE) / CAST(n_probe_keys AS DOUBLE)
               AS fpr_exact,
             (CAST(n_bits_set AS DOUBLE) / ${bloomM.toDouble}e0)
               * (CAST(n_bits_set AS DOUBLE) / ${bloomM.toDouble}e0)
               * (CAST(n_bits_set AS DOUBLE) / ${bloomM.toDouble}e0)
               AS fpr_predicted
      FROM fp CROSS JOIN stats"""))

  // ---- q250: MapType column surface ----------------------------------------
  /** q250: the MAP column surface — the one Spark SQL type family no other
    * query exercises: build a map<string,string> per event (JSON field +
    * typed row fields), then push it through the map higher-order functions
    * — `map_filter` (drop null/empty entries: an absent props.k vanishes),
    * `map_concat` (append a computed entry), `transform_values` (tag every
    * value), `map_keys`/`element_at`/`cardinality` — and aggregate the
    * results per event_type. Everything is codegen-friendly expression work
    * (zero-shuffle until the final keyed aggregate).
    *
    * The oracle never builds a map: it re-derives every output scalar from
    * first principles on the raw columns (entry count = 3 fixed + k-present
    * + the appended 'n'; the sorted-key CSV enumerated per presence case) —
    * so a divergence in Spark's map-HOF semantics from the documented
    * behavior fails the hash compare rather than being replicated. */
  val mapOps: Q = Q(
    "q250_map_ops",
    (s, dir) => {
      val base = Tables.events(s, dir).select(col("event_type"),
        map(
          lit("k"), get_json_object(col("props"), "$.k"),
          lit("type"), col("event_type"),
          lit("vbin"), floor(col("value") / 100).cast("long").cast("string"),
          lit("user"), (col("user_id") % 10).cast("string")).as("m"))
      val shaped = base
        .withColumn("f",
          expr("map_filter(m, (k, v) -> v IS NOT NULL AND v <> '')"))
        .withColumn("e2",
          expr("map_concat(f, map('n', cast(cardinality(f) as string)))"))
        .withColumn("tagged",
          expr("transform_values(e2, (k, v) -> concat(k, '=', v))"))
        .withColumn("n_entries", expr("cardinality(tagged)").cast("long"))
        .withColumn("has_k", expr("element_at(f, 'k') IS NOT NULL"))
        .withColumn("keys_csv",
          expr("array_join(sort_array(map_keys(tagged)), ',')"))
      shaped.groupBy("event_type").agg(
        count(lit(1)).as("n_events"),
        sum(when(col("has_k"), 1L).otherwise(0L)).as("n_with_k"),
        sum(col("n_entries")).as("total_entries"),
        countDistinct(col("keys_csv")).as("n_key_shapes"),
        min(col("keys_csv")).as("min_keys_csv"),
        max(expr("cast(element_at(f, 'vbin') AS BIGINT)")).as("max_vbin"))
    },
    Some("""WITH ev AS (
        SELECT event_type,
               json_extract_string(props, '$.k') AS kval,
               CAST(floor(value / 100) AS BIGINT) AS vbin
        FROM events
      ), shaped AS (
        SELECT event_type, vbin,
               (kval IS NOT NULL AND kval <> '') AS has_k,
               -- tagged map entries: type/vbin/user always survive the
               -- filter, k iff present, plus the appended 'n' entry
               CAST(CASE WHEN kval IS NOT NULL AND kval <> ''
                    THEN 5 ELSE 4 END AS BIGINT) AS n_entries,
               CASE WHEN kval IS NOT NULL AND kval <> ''
                    THEN 'k,n,type,user,vbin' ELSE 'n,type,user,vbin' END
                 AS keys_csv
        FROM ev
      )
      SELECT event_type,
             CAST(count(1) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN has_k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_k,
             CAST(sum(n_entries) AS BIGINT) AS total_entries,
             CAST(count(DISTINCT keys_csv) AS BIGINT) AS n_key_shapes,
             min(keys_csv) AS min_keys_csv,
             max(vbin) AS max_vbin
      FROM shaped GROUP BY event_type"""))

  val all: Seq[Q] = Seq(funnel, watermarkIngest, gapFill, hoppingWindow,
    cohortRetention, debounce, timeWeightedAvg, attribution, peakConcurrency,
    rollingActiveUsers, transitionMatrix, decayedPopularity, intervalUnion,
    bitmapDistinct, volumeAnomaly, incrementalSessions, xcorrLag,
    windowedFunnel, rfmSegments, sequenceFunnels, exactEwma, oooSpearman,
    orderGaps, fanoBurstiness, latenessProfile, intradayDupRate, hllDistinct,
    kmvDistinct, kmvOverlap, bloomAudit, mapOps)
}
