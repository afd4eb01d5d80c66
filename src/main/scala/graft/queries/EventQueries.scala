package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Dedup, Events}
import graft.queries.Shared._

/** Event and time-series queries over the events table: event-time
  * windows, as-of joins, changepoints, funnels, retention, smoothing and
  * A/B readouts (`operators.Events`, `operators.AsOfJoin`). */
object EventQueries {

  val all: Seq[QuerySpec] = Seq(
    // ----- event-time windows (batch; streaming twins in graft.streaming)
    QuerySpec("q_events_tumbling", (s, dir) =>
      Events.tumblingHourly(t(s, dir, "events")),
      """SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
                  COUNT(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           FROM events GROUP BY 1, 2"""),

    QuerySpec("q_events_sliding", (s, dir) =>
      Events.slidingHourly(t(s, dir, "events")),
      """SELECT ((epoch_us(ts) // 1800000000) - k) * 1800 AS wstart_s,
                  event_type, COUNT(*) AS n_events
           FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) offs
           GROUP BY 1, 2"""),

    QuerySpec("q_events_session", (s, dir) =>
      Events.sessionize(t(s, dir, "events")),
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
           l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us FROM e),
           m AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
           sess AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM m)
           SELECT user_id, MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
                  COUNT(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           FROM sess GROUP BY user_id, sid"""),

    // ----- CUSUM changepoint per event type over daily counts: the
    // cumulative deviation from the key mean in EXACT scaled BIGINTs
    // (dev_fx = D*cum - idx*total — no float mean), |dev| peak = the
    // most likely changepoint. Windows run per key over KEY x DAY rows,
    // never over raw events and never globally -----
    QuerySpec("q_cusum", (s, dir) =>
      Events.cusumDaily(t(s, dir, "events"), "event_type"),
      // CUSUM in scaled BIGINTs: dev_fx = D*cum - idx*total ==
      // D * sum_{i<=idx}(n_i - total/D), no float mean anywhere
      """WITH d AS (SELECT event_type,
                    epoch_us(ts) // 86400000000 AS day,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM events GROUP BY 1, 2),
           w AS (SELECT event_type, day, n,
                    COUNT(*) OVER (PARTITION BY event_type) AS dd,
                    SUM(n) OVER (PARTITION BY event_type) AS total,
                    SUM(n) OVER (PARTITION BY event_type
                                 ORDER BY day) AS cum,
                    ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY day) AS idx
                 FROM d)
           SELECT event_type, day, n,
                  CAST(dd * cum - idx * total AS BIGINT) AS dev_fx,
                  abs(dd * cum - idx * total) =
                    MAX(abs(dd * cum - idx * total))
                      OVER (PARTITION BY event_type) AS is_peak
           FROM w"""),

    // ----- as-of join (custom operator; Spark has no built-in) -----
    QuerySpec("q_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("user_id", "ts div 1000 AS t_us", "event_id")
      val ord = t(s, dir, "orders")
        .selectExpr("o_custkey",
          "unix_micros(cast(o_orderdate as timestamp)) AS t_us", "o_orderkey")
      graft.operators.AsOfJoin.asOf(
        ev, "user_id", "t_us", "event_id",
        ord, "o_custkey", "t_us", "o_orderkey")
    },
      """WITH o AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS t,
                             MAX(o_orderkey) AS ref
                      FROM orders GROUP BY 1, 2),
           e AS (SELECT user_id AS k, epoch_us(ts) AS t, event_id FROM events)
           SELECT e.event_id, e.k AS user_id, o.ref AS o_orderkey
           FROM e ASOF JOIN o ON e.k = o.k AND e.t >= o.t"""),

    // ----- forward as-of: earliest event at/after each order's date -----
    QuerySpec("q_asof_forward", (s, dir) => {
      val ord = t(s, dir, "orders")
        .selectExpr("o_custkey",
          "unix_micros(cast(o_orderdate as timestamp)) AS t_us", "o_orderkey")
      val ev = t(s, dir, "events")
        .selectExpr("user_id", "ts div 1000 AS t_us", "event_id")
      graft.operators.AsOfJoin.asOfForward(
        ord, "o_custkey", "t_us", "o_orderkey",
        ev, "user_id", "t_us", "event_id")
    },
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS t,
                             MAX(event_id) AS ref
                      FROM events GROUP BY 1, 2),
           o AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS t, o_orderkey
                 FROM orders)
           SELECT o.o_orderkey, o.k AS o_custkey, e.ref AS event_id
           FROM o ASOF JOIN e ON o.k = e.k AND o.t <= e.t"""),

    // ----- as-of with tolerance: latest purchase within 1h of each click -----
    QuerySpec("q_asof_tolerance", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .selectExpr("user_id", "ts div 1000 AS t_us", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .selectExpr("user_id", "ts div 1000 AS t_us", "event_id AS p_id")
      graft.operators.AsOfJoin.asOf(
        clicks, "user_id", "t_us", "event_id",
        purchases, "user_id", "t_us", "p_id",
        toleranceMicros = Some(3600000000L))
    },
      """WITH p AS (SELECT user_id AS k, epoch_us(ts) AS t,
                             MAX(event_id) AS ref
                      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
           c AS (SELECT user_id AS k, epoch_us(ts) AS t, event_id FROM events
                 WHERE event_type = 'click')
           SELECT event_id, k AS user_id, ref AS p_id FROM (
             SELECT c.event_id, c.k, p.ref, c.t AS ct, p.t AS pt
             FROM c ASOF JOIN p ON c.k = p.k AND c.t >= p.t)
           WHERE ct - pt <= 3600000000"""),

    // ----- as-of carrying full right-row payload columns -----
    QuerySpec("q_asof_payload", (s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("user_id", "ts div 1000 AS t_us", "event_id")
      val ord = t(s, dir, "orders")
        .selectExpr("o_custkey",
          "unix_micros(cast(o_orderdate as timestamp)) AS t_us",
          "o_orderkey", "o_totalprice", "o_orderstatus")
      graft.operators.AsOfJoin.asOfPayload(
        ev, "user_id", "t_us", "event_id",
        ord, "o_custkey", "t_us", "o_orderkey",
        Seq("o_totalprice", "o_orderstatus"))
    },
      """WITH o AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS t,
                             MAX(o_orderkey) AS ref
                      FROM orders GROUP BY 1, 2),
           o2 AS (SELECT o.k, o.t, o.ref, orders.o_totalprice, orders.o_orderstatus
                  FROM o JOIN orders ON orders.o_orderkey = o.ref),
           e AS (SELECT user_id AS k, epoch_us(ts) AS t, event_id FROM events)
           SELECT e.event_id, e.k AS user_id, o2.ref AS o_orderkey,
                  o2.o_totalprice, o2.o_orderstatus
           FROM e ASOF JOIN o2 ON e.k = o2.k AND e.t >= o2.t"""),

    // ----- z-score outlier detection: exact decimal moments (2-decimal
    // values -> 4-decimal squares, both far from decimal-rounding
    // halfway points), then a broadcast stats join flags |v-mean|>3*std
    QuerySpec("q_outliers", (s, dir) => {
      val ev = t(s, dir, "events")
      val stats = ev.groupBy(col("event_type").as("st"))
        .agg((sum(dec(col("value"))).cast("double") / count(lit(1)))
            .as("mean"),
          (sum(expr("CAST(value * value AS DECIMAL(28,4))")).cast("double") /
            count(lit(1))).as("mean_sq"))
        .withColumn("std",
          expr("sqrt(greatest(mean_sq - mean * mean, 0D))"))
      ev.join(broadcast(stats), col("event_type") === col("st"))
        .groupBy(col("event_type"))
        .agg(sum(expr(
            "CASE WHEN abs(value - mean) > 3 * std THEN 1L ELSE 0L END"))
            .as("n_outliers"),
          count(lit(1)).as("n_total"))
    },
      """WITH s AS (SELECT event_type AS st,
                             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean,
                             CAST(SUM(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS mean_sq
                      FROM events GROUP BY 1),
           st AS (SELECT st, mean, sqrt(greatest(mean_sq - mean * mean, 0)) AS std FROM s)
           SELECT e.event_type,
                  CAST(SUM(CASE WHEN abs(e.value - st.mean) > 3 * st.std THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                  COUNT(*) AS n_total
           FROM events e JOIN st ON e.event_type = st.st
           GROUP BY e.event_type"""),

    // ----- robust outliers via MAD (median absolute deviation): immune
    // to the outliers themselves inflating the spread estimate, unlike
    // the z-score variant above; two tiny per-group stats tables ride
    // broadcast joins so events stream through unshuffled -----
    QuerySpec("q_mad_outliers", (s, dir) => {
      val ev = t(s, dir, "events")
      val med = ev.groupBy(col("event_type").as("g"))
        .agg(expr("percentile(value, 0.5D)").as("med"))
      // persist barrier: dev feeds the MAD aggregate AND the final
      // outlier rollup — without it the events scan + median join run 2×
      val dev = graft.operators.Dedup.persistTracked(
        ev.join(broadcast(med), col("event_type") === col("g"))
          .select(col("event_type"), col("value"), col("med"),
            expr("abs(value - med)").as("adev")))
      val mad = dev.groupBy(col("event_type").as("g2"))
        .agg(expr("percentile(adev, 0.5D)").as("mad"))
      dev.join(broadcast(mad), col("event_type") === col("g2"))
        .groupBy(col("event_type"))
        .agg(min(col("med")).as("median_value"),
          min(col("mad")).as("mad"),
          sum(when(expr("adev > 3 * 1.4826 * mad"), 1L).otherwise(0L))
            .as("n_outliers"),
          count(lit(1)).as("n"))
    },
      """WITH med AS (SELECT event_type AS g,
                  percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
                FROM events GROUP BY 1),
           dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
                   FROM events e JOIN med m ON e.event_type = m.g),
           mad AS (SELECT event_type AS g2,
                  percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
                FROM dev GROUP BY 1)
           SELECT d.event_type, MIN(d.med) AS median_value, MIN(md.mad) AS mad,
                  CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                  COUNT(*) AS n
           FROM dev d JOIN mad md ON d.event_type = md.g2
           GROUP BY d.event_type"""),

    // ----- time-to-convert: first click -> first purchase per user
    // (conditional min aggregation, one shuffle) -----
    QuerySpec("q_time_to_convert", (s, dir) =>
      t(s, dir, "events")
        .withColumn("t_us", expr("ts div 1000"))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "click", col("t_us")))
            .as("first_click_us"),
          min(when(col("event_type") === "purchase", col("t_us")))
            .as("first_purchase_us"))
        .filter(col("first_click_us").isNotNull &&
          col("first_purchase_us").isNotNull &&
          col("first_purchase_us") >= col("first_click_us"))
        .select(col("user_id"),
          expr("(first_purchase_us - first_click_us) div 1000000")
            .as("secs_to_convert")),
      """SELECT user_id,
                  (first_purchase_us - first_click_us) // 1000000 AS secs_to_convert
           FROM (SELECT user_id,
                        MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click_us,
                        MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us
                 FROM events GROUP BY user_id)
           WHERE first_click_us IS NOT NULL AND first_purchase_us IS NOT NULL
             AND first_purchase_us >= first_click_us"""),

    // ----- event-type transition matrix (first-order Markov over each
    // user's event sequence) -----
    QuerySpec("q_event_transitions", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("t_us", expr("ts div 1000"))
      val seq = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      ev.withColumn("to_type", lead(col("event_type"), 1).over(seq))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", expr("CAST(n AS DOUBLE) / " +
          "sum(n) OVER (PARTITION BY from_type)"))
    },
      """WITH s AS (SELECT event_type AS from_type,
                             LEAD(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS to_type
                      FROM events),
           c AS (SELECT from_type, to_type, COUNT(*) AS n
                 FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
           SELECT from_type, to_type, n,
                  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
           FROM c"""),

    // ----- SCD TYPE 2 dimension build: collapse each user's event_type
    // runs into validity intervals [valid_from, valid_to) in epoch-micros,
    // open-ended current row — the standard warehouse history table.
    // Gaps-and-islands run detection: one shuffle per window key -----
    QuerySpec("q_scd2", (s, dir) => {
      val seq = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      val runs = t(s, dir, "events")
        .withColumn("t_us", expr("ts div 1000"))
        .withColumn("changed",
          when(lag(col("event_type"), 1).over(seq).isNull ||
            lag(col("event_type"), 1).over(seq) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("run", sum(col("changed")).over(
          seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("run"), col("event_type"))
        .agg(min(col("t_us")).as("valid_from"),
          count(lit(1)).as("n_events"))
      val byStart = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from"), col("run"))
      runs
        .withColumn("valid_to", lead(col("valid_from"), 1).over(byStart))
        .withColumn("is_current", col("valid_to").isNull)
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"), col("is_current"))
    },
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us FROM events),
           l AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS prev FROM e),
           m AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS changed FROM l),
           r AS (SELECT *, CAST(SUM(changed) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM m),
           runs AS (SELECT user_id, run, event_type, MIN(t_us) AS valid_from,
                           COUNT(*) AS n_events
                    FROM r GROUP BY user_id, run, event_type)
           SELECT user_id, event_type, valid_from,
                  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) AS valid_to,
                  n_events,
                  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) IS NULL AS is_current
           FROM runs"""),

    // ----- JSON props on the events table (real semi-structured column) -----
    QuerySpec("q_events_props", (s, dir) =>
      t(s, dir, "events")
        .selectExpr("event_type",
          "CAST(get_json_object(props, '$.k') AS BIGINT) AS k")
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
          count(lit(1)).as("n")),
      """SELECT event_type,
                  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                  COUNT(*) AS n
           FROM events GROUP BY event_type"""),

    // ----- USER LIFETIME / ENGAGEMENT: per user, first/last activity,
    // span, distinct ACTIVE DAYS, and events-per-active-day — the
    // engagement segmentation behind retention targeting (all integer
    // day buckets; one narrow scan + one aggregate). Top-100 heaviest
    // users by events with a deterministic tie-break. -----
    QuerySpec("q_user_lifetime", (s, dir) =>
      // floor each ts to MICROS first (t_us = ts div 1000), then bucket
      // and difference in micros — the oracle's epoch_us(ts) values are
      // per-value-floored micros, and difference-of-floors != floor-of-
      // difference on a nanos-typed events variant
      t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("t_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(expr("t_us div 86400000000")).as("active_days"),
          min(col("t_us")).as("first_us"), max(col("t_us")).as("last_us"))
        .select(col("user_id"), col("n_events"), col("active_days"),
          expr("(last_us - first_us) div 86400000000").as("span_days"),
          expr("CAST(n_events AS DOUBLE) / active_days").as("events_per_day"))
        .orderBy(col("n_events").desc, col("user_id")).limit(100),
      // Spark ts is epoch-nanos; DuckDB micros: day = us // 86400e6
      // equals nanos div 86400e9, and span uses the same equivalence
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
           a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                        CAST(COUNT(DISTINCT us // 86400000000) AS BIGINT) AS active_days,
                        MIN(us) AS first_us, MAX(us) AS last_us
                 FROM e GROUP BY user_id)
           SELECT user_id, n_events, active_days,
                  CAST((last_us - first_us) // 86400000000 AS BIGINT) AS span_days,
                  CAST(n_events AS DOUBLE) / active_days AS events_per_day
           FROM a ORDER BY n_events DESC, user_id LIMIT 100"""),

    // ----- INTER-ARRIVAL BURSTINESS per event type: mean/std of the
    // gaps between consecutive events and the burstiness index
    // B = (σ−μ)/(σ+μ) (Goh & Barabási) — B→−1 periodic, 0 Poisson,
    // →1 bursty; the traffic-shape readout behind rate-limit and
    // capacity sizing. Gaps in whole seconds keep Σx² inside BIGINT;
    // the variance numerator then multiplies as DOUBLE — identical IEEE
    // ops on identical operands on both sides, with no BIGINT-overflow
    // cliff — and σ rides the one correctly-rounded function (sqrt).
    // One lag window per type (parallel across types), one tiny
    // aggregate. -----
    QuerySpec("q_interarrival", (s, dir) => {
      // floor each ts to MICROS before lagging/differencing (the
      // q_time_to_convert convention): the oracle differences
      // per-value-floored epoch_us values, and difference-of-floors !=
      // floor-of-difference on a nanos-typed events variant. The
      // variance numerator multiplies as DOUBLE on both sides — the
      // BIGINT product n_gaps*sxx can pass 2^63 under one dominant
      // multi-week gap, and the engines' overflow behaviors differ.
      t(s, dir, "events")
        .select(col("event_type"), expr("ts div 1000").as("t_us"),
          col("event_id"))
        .withColumn("gap_s",
          expr("(t_us - lag(t_us) OVER (PARTITION BY event_type " +
            "ORDER BY t_us, event_id)) div 1000000"))
        .filter(col("gap_s").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sx"),
          sum(col("gap_s") * col("gap_s")).as("sxx"))
        // greatest(…, 0): past 2^53 the two products round independently
        // and near-constant gaps can make the difference land a few ulps
        // NEGATIVE — Spark's sqrt would return NaN but DuckDB RAISES on
        // a negative sqrt, so both sides clamp before the root
        .select(col("event_type"), col("n_gaps"),
          expr("CAST(sx AS DOUBLE) / n_gaps").as("mean_gap_s"),
          expr("sqrt(greatest(CAST(n_gaps AS DOUBLE) * CAST(sxx AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0e0)) / n_gaps")
            .as("std_gap_s"))
        // nullif: all-sub-second gaps floor to 0 → 0/0 is IEEE NaN in
        // Spark but NULL in DuckDB; both sides go NULL
        .withColumn("burstiness", expr(
          "(std_gap_s - mean_gap_s) / nullif(std_gap_s + mean_gap_s, 0.0D)"))
    },
      // both sides floor each ts to MICROS per value and difference
      // in micros (the raw-Δnanos form is NOT equivalent on a
      // nanos-typed events variant: difference-of-floors !=
      // floor-of-difference)
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us, event_id FROM events),
           g AS (SELECT event_type,
                   (us - lag(us) OVER (PARTITION BY event_type
                      ORDER BY us, event_id)) // 1000000 AS gap_s
                 FROM e),
           a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
                        CAST(SUM(gap_s) AS BIGINT) AS sx,
                        CAST(SUM(gap_s * gap_s) AS BIGINT) AS sxx
                 FROM g WHERE gap_s IS NOT NULL GROUP BY event_type),
           b AS (SELECT event_type, n_gaps,
                        CAST(sx AS DOUBLE) / n_gaps AS mean_gap_s,
                        sqrt(greatest(CAST(n_gaps AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0e0)) / n_gaps AS std_gap_s
                 FROM a)
           SELECT event_type, n_gaps, mean_gap_s, std_gap_s,
                  (std_gap_s - mean_gap_s) /
                    nullif(std_gap_s + mean_gap_s, 0.0) AS burstiness
           FROM b"""),

    // ----- WEEKLY SEASONALITY PROFILE: per (event_type, day-of-week)
    // exact mean value vs the event type's overall mean — the
    // seasonal-baseline readout that tells an anomaly detector which
    // deviations are just "it's Sunday". Decimal-exact sums; the ratio
    // is ONE division of identical operands per cell, and the flag
    // thresholds are exact comparisons on it. One narrow scan, one
    // cell-grid aggregate, grid-sized rollup after. -----
    QuerySpec("q_seasonal_dow", (s, dir) => {
      // ts is epoch-nanos BIGINT (Tables.normalizeEventTs); session tz is
      // UTC, so the micros→timestamp dow equals DuckDB's naive-timestamp
      // dow exactly (Spark Sunday=1, DuckDB Sunday=0 — hence the -1)
      val cells = Dedup.persistTracked(t(s, dir, "events")
        .select(col("event_type"),
          expr("dayofweek(timestamp_micros(ts div 1000)) - 1").as("dow"),
          col("value"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sv")))
      val overall = cells.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_all"), sum(col("sv")).as("sv_all"))
      cells.join(overall, Seq("event_type"))
        .select(col("event_type"), col("dow"), col("n"),
          (col("sv").cast("double") / col("n")).as("mean_v"),
          ((col("sv").cast("double") / col("n")) /
            (col("sv_all").cast("double") / col("n_all"))).as("ratio"))
        .withColumn("seasonal", col("ratio") > 1.2 || col("ratio") < 0.8)
    },
      // DuckDB dayofweek: Sunday = 0; Spark dayofweek: Sunday = 1 —
      // the Spark side subtracts 1 so both emit the same dow
      """WITH cells AS (SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(CAST(value AS DECIMAL(18,2))) AS sv
                FROM events GROUP BY event_type, dayofweek(ts)),
           o AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_all,
                        SUM(sv) AS sv_all
                 FROM cells GROUP BY event_type)
           SELECT cells.event_type, dow, n,
                  CAST(sv AS DOUBLE) / n AS mean_v,
                  (CAST(sv AS DOUBLE) / n) /
                    (CAST(sv_all AS DOUBLE) / n_all) AS ratio,
                  ((CAST(sv AS DOUBLE) / n) /
                    (CAST(sv_all AS DOUBLE) / n_all)) > CAST(1.2 AS DOUBLE)
                  OR ((CAST(sv AS DOUBLE) / n) /
                    (CAST(sv_all AS DOUBLE) / n_all)) < CAST(0.8 AS DOUBLE)
                    AS seasonal
           FROM cells JOIN o ON cells.event_type = o.event_type"""),

    QuerySpec("q_ewma", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts div 1000"), col("event_id"))
        .rowsBetween(-9, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          collect_list(col("value")).over(w).as("vs"))
        .selectExpr("event_id", "user_id", "value",
          // newest element is LAST in the frame: weight (1/2)^(n-1-i),
          // built from integer SHIFTS — bit-exact on both engines, where
          // pow() is implementation-defined
          "aggregate(zip_with(vs, sequence(0L, size(vs) - 1L), " +
            "(v, i) -> v / CAST(shiftleft(1L, CAST(size(vs) - 1 - i AS INT)) AS DOUBLE)), " +
            "0D, (acc, x) -> acc + x) AS ewma_num",
          "aggregate(sequence(0L, size(vs) - 1L), 0D, " +
            "(acc, i) -> acc + 1D / CAST(shiftleft(1L, CAST(i AS INT)) AS DOUBLE)) AS ewma_den")
        .withColumn("ewma", expr("ewma_num / ewma_den"))
        .select("event_id", "user_id", "value", "ewma")
    },
      """SELECT event_id, user_id, value,
                  list_reduce(list_prepend(0::DOUBLE, list_transform(range(0, len(vs)), i ->
                    vs[i + 1] / ((1::BIGINT << (len(vs) - 1 - i))::DOUBLE))), (acc, x) -> acc + x) /
                  list_reduce(list_prepend(0::DOUBLE, list_transform(range(0, len(vs)), i ->
                    1.0 / ((1::BIGINT << i)::DOUBLE))), (acc, x) -> acc + x) AS ewma
           FROM (SELECT event_id, user_id, value,
                   list(value) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vs
                 FROM events)"""),

    // ----- null imputation with group means: missing values (every 7th
    // event, synthesized deterministically) are replaced by the exact
    // decimal-mean of their group — the standard feature-cleaning op;
    // group means ride a broadcast join -----
    QuerySpec("q_impute", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("v", expr("IF(event_id % 7 = 0, NULL, value)"))
      val means = ev.groupBy(col("event_type").as("g"))
        .agg((sum(dec(col("v"))).cast("double") / count(col("v")))
          .as("grp_mean"))
      ev.join(broadcast(means), col("event_type") === col("g"))
        .select(col("event_id"), col("event_type"),
          coalesce(col("v"), col("grp_mean")).as("v_imputed"),
          col("v").isNull.as("was_missing"))
    },
      """WITH ev AS (SELECT event_id, event_type,
                  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
               FROM events),
           m AS (SELECT event_type AS g,
                  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v) AS grp_mean
                 FROM ev GROUP BY 1)
           SELECT e.event_id, e.event_type,
                  coalesce(e.v, m.grp_mean) AS v_imputed,
                  e.v IS NULL AS was_missing
           FROM ev e JOIN m ON e.event_type = m.g"""),

    // ----- winsorization: clip to per-group [p05, p95] (the outlier
    // TREATMENT to the detection queries above); group percentiles ride
    // a broadcast join back onto the unshuffled stream -----
    QuerySpec("q_winsorize", (s, dir) => {
      val ev = t(s, dir, "events")
      val pct = ev.groupBy(col("event_type").as("g"))
        .agg(expr("percentile(value, 0.05D)").as("p05"),
          expr("percentile(value, 0.95D)").as("p95"))
      ev.join(broadcast(pct), col("event_type") === col("g"))
        .select(col("event_id"), col("event_type"), col("value"),
          expr("least(greatest(value, p05), p95)").as("clipped"))
    },
      """WITH pct AS (SELECT event_type AS g,
                  percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p05,
                  percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p95
                FROM events GROUP BY 1)
           SELECT e.event_id, e.event_type, e.value,
                  least(greatest(e.value, p.p05), p.p95) AS clipped
           FROM events e JOIN pct p ON e.event_type = p.g"""),

    // ----- max concurrent intervals (sweep line): each 5-minute event
    // interval contributes +1/-1 boundary points; a running sum ordered
    // by (time, delta) — ends BEFORE starts at the same instant, matching
    // half-open [s, e) intervals — peaks at the answer. One shuffle, no
    // interval self-join (the naive overlap join is quadratic) -----
    QuerySpec("q_max_concurrent", (s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("event_type", "ts div 1000 AS t_us")
      val pts = ev.selectExpr("event_type", "t_us AS t", "1L AS delta")
        .unionAll(ev.selectExpr("event_type",
          "t_us + 300000000 AS t", "-1L AS delta"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("t"), col("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts.withColumn("running", sum(col("delta")).over(w))
        .groupBy(col("event_type"))
        .agg(max(col("running")).as("max_concurrent"),
          count(lit(1)).as("n_points"))
    },
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS t_us FROM events),
           pts AS (SELECT event_type, t_us AS t, 1 AS delta FROM ev
                   UNION ALL
                   SELECT event_type, t_us + 300000000 AS t, -1 AS delta FROM ev),
           r AS (SELECT event_type,
                   SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
                 FROM pts)
           SELECT event_type, CAST(MAX(running) AS BIGINT) AS max_concurrent,
                  COUNT(*) AS n_points
           FROM r GROUP BY event_type"""),

    // ----- rolling z-score anomaly detection: trailing-20 mean/std per
    // user from EXACT decimal window sums (the streaming-analytics shape
    // of q_outliers; one window pass, state bounded by the frame) -----
    QuerySpec("q_rolling_z", (s, dir) => {
      // order by MICROS, not the raw nanos long: DuckDB truncates its
      // timestamps to micros, so a nanos ordering could break frame ties
      // differently across engines
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts div 1000"), col("event_id"))
        .rowsBetween(-19, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          (sum(dec(col("value"))).over(w).cast("double") /
            count(lit(1)).over(w)).as("mean20"),
          (sum(expr("CAST(value * value AS DECIMAL(28,4))")).over(w)
            .cast("double") / count(lit(1)).over(w)).as("meansq20"))
        .withColumn("std20",
          expr("sqrt(greatest(meansq20 - mean20 * mean20, 0D))"))
        .withColumn("z",
          expr("(value - mean20) / nullif(std20, 0)"))
        .select("event_id", "user_id", "value", "mean20", "z")
    },
      """SELECT event_id, user_id, value, mean20,
                  (value - mean20) / nullif(std20, 0) AS z
           FROM (SELECT event_id, user_id, value, mean20,
                        sqrt(greatest(meansq20 - mean20 * mean20, 0)) AS std20
                 FROM (SELECT event_id, user_id, value,
                         CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS mean20,
                         CAST(SUM(CAST(value * value AS DECIMAL(28,4))) OVER w AS DOUBLE) / COUNT(*) OVER w AS meansq20
                       FROM events
                       WINDOW w AS (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id
                                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)))"""),

    // ----- feature scaling for ML prep: per-group min-max normalization
    // and rank normalization (percent_rank) in ONE window pass — all
    // three window functions share the event_type partitioning, so this
    // is a single shuffle -----
    QuerySpec("q_feature_scale", (s, dir) => {
      val byType = Window.partitionBy(col("event_type"))
      t(s, dir, "events")
        .withColumn("vmin", min(col("value")).over(byType))
        .withColumn("vmax", max(col("value")).over(byType))
        .withColumn("minmax",
          expr("(value - vmin) / nullif(vmax - vmin, 0)"))
        .withColumn("pr", percent_rank().over(
          byType.orderBy(col("value"))))
        .select(col("event_id"), col("event_type"), col("value"),
          col("minmax"), col("pr"))
    },
      """SELECT event_id, event_type, value,
                  (value - MIN(value) OVER (PARTITION BY event_type)) /
                  nullif(MAX(value) OVER (PARTITION BY event_type) -
                         MIN(value) OVER (PARTITION BY event_type), 0) AS minmax,
                  percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pr
           FROM events"""),

    // ----- funnel analysis: ordered stage progression per user -----
    QuerySpec("q_funnel", (s, dir) =>
      t(s, dir, "events")
        .selectExpr("user_id", "event_type", "ts div 1000 AS t_us")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("t_us"))).as("t_view"),
          min(when(col("event_type") === "click", col("t_us"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("t_us"))).as("t_buy"))
        .selectExpr("user_id",
          """CAST(CASE
               WHEN t_view IS NULL THEN 0
               WHEN t_click IS NULL OR t_click <= t_view THEN 1
               WHEN t_buy IS NULL OR t_buy <= t_click THEN 2
               ELSE 3 END AS BIGINT) AS stage""")
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users")),
      """WITH s AS (SELECT user_id,
                  MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
                  MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
                  MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
           FROM events GROUP BY user_id),
           staged AS (SELECT user_id,
                  CAST(CASE
                    WHEN t_view IS NULL THEN 0
                    WHEN t_click IS NULL OR t_click <= t_view THEN 1
                    WHEN t_buy IS NULL OR t_buy <= t_click THEN 2
                    ELSE 3 END AS BIGINT) AS stage
           FROM s)
           SELECT stage, COUNT(*) AS n_users FROM staged GROUP BY stage"""),

    // ----- cohort retention: users active N days after first activity -----
    // ----- cumulative distinct users per day WITHOUT a running
    // count-distinct: each user counts once, on their FIRST day (one
    // distinct pass), then a prefix sum over the tiny per-day table.
    // The naive "COUNT(DISTINCT) OVER (ORDER BY day)" re-scans every
    // prefix; this is the single-pass shape that survives at scale -----
    QuerySpec("q_running_distinct", (s, dir) => {
      val firstDay = t(s, dir, "events")
        .selectExpr("user_id", "(ts div 1000) div 86400000000 AS day")
        .groupBy(col("user_id")).agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      graft.plans.ParallelRank.runningSum(firstDay, "cum_users",
        col("new_users"), 8, col("day"))
    },
      """WITH fd AS (SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS day
                       FROM events GROUP BY user_id),
           nd AS (SELECT day, COUNT(*) AS new_users FROM fd GROUP BY day)
           SELECT day, new_users,
                  CAST(SUM(new_users) OVER (ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
           FROM nd"""),

    // ----- trailing 7-day active users per day (DAU->WAU rollup): each
    // distinct (user, day) row is EXPLODED into the 7 window days it
    // contributes to, so the rollup is a plain equi-keyed distinct-count
    // — never a range join (a spine BETWEEN join degrades to a nested
    // loop: O(rows x days) at 100 TB). The inner join with the DAU side
    // restricts output to observed days, matching the spine semantics -----
    QuerySpec("q_dau_wau", (s, dir) => {
      // persist barrier: userDays feeds both the WAU explode and the
      // DAU rollup (two distinct-count consumers of one distinct scan)
      val userDays = graft.operators.Dedup.persistTracked(
        t(s, dir, "events")
          .selectExpr("user_id", "(ts div 1000) div 86400000000 AS day")
          .distinct())
      val wau = userDays
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + lit(6L))).as("d"))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("wau"))
      userDays.groupBy(col("day").as("d"))
        .agg(countDistinct(col("user_id")).as("dau"))
        .join(wau, Seq("d"))
        .select(col("d").as("day"), col("dau"), col("wau"))
    },
      """WITH ud AS (SELECT DISTINCT user_id,
                              epoch_us(ts) // 86400000000 AS day FROM events),
           spine AS (SELECT DISTINCT day AS d FROM ud),
           w AS (SELECT s.d, COUNT(DISTINCT u.user_id) AS wau
                 FROM spine s JOIN ud u ON u.day BETWEEN s.d - 6 AND s.d
                 GROUP BY s.d),
           da AS (SELECT day AS d, COUNT(DISTINCT user_id) AS dau
                  FROM ud GROUP BY day)
           SELECT w.d AS day, da.dau, w.wau FROM w JOIN da USING (d)"""),

    // ----- seasonal baseline: hour-of-day mean per event type, with the
    // exact rational ratio to the type's overall mean (two exact decimal
    // means -> one division each; log/pow-free) -----
    QuerySpec("q_seasonality", (s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("event_type", "value",
          "((ts div 1000) div 3600000000) % 24 AS hod")
      ev.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sum_dec"))
        // the cross-group rollups stay DECIMAL so the window sums are
        // exact and order-independent; doubles appear only at the final
        // single divisions
        .withColumn("type_sum", sum(col("sum_dec")).over(
          Window.partitionBy(col("event_type"))))
        .withColumn("type_n", sum(col("n")).over(
          Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("hod"), col("n"),
          expr("CAST(sum_dec AS DOUBLE) / n").as("hod_mean"),
          expr("(CAST(sum_dec AS DOUBLE) / n) / " +
            "(CAST(type_sum AS DOUBLE) / type_n)").as("season_ratio"))
    },
      """WITH h AS (SELECT event_type,
                  (epoch_us(ts) // 3600000000) % 24 AS hod,
                  COUNT(*) AS n,
                  SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec
                FROM events GROUP BY 1, 2),
           w AS (SELECT *, SUM(sum_dec) OVER (PARTITION BY event_type) AS type_sum,
                        CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS type_n
                 FROM h)
           SELECT event_type, hod, n,
                  CAST(sum_dec AS DOUBLE) / n AS hod_mean,
                  (CAST(sum_dec AS DOUBLE) / n) /
                  (CAST(type_sum AS DOUBLE) / type_n) AS season_ratio
           FROM w"""),

    QuerySpec("q_cohort_retention", (s, dir) => {
      val days = t(s, dir, "events")
        .selectExpr("user_id", "(ts div 1000) div 86400000000 AS day")
        .distinct()
      val cohorts = days.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort"))
      days.join(cohorts, "user_id")
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("age_days"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    },
      """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
           c AS (SELECT user_id, MIN(day) AS cohort FROM d GROUP BY user_id)
           SELECT c.cohort, d.day - c.cohort AS age_days,
                  COUNT(DISTINCT d.user_id) AS n_active
           FROM d JOIN c ON d.user_id = c.user_id
           GROUP BY c.cohort, age_days"""),

    // ----- time-series RESAMPLE + FORWARD FILL: 10-minute buckets per
    // event type, dense spine via sequence-explode between each type's
    // min and max bucket (equi-keyed — a spine range join would nested-
    // loop), gaps carry the last observed value (last_value IGNORE
    // NULLS). Sums stay DECIMAL until the final cast so the fill value
    // is order-independent -----
    QuerySpec("q_resample_ffill", (s, dir) => {
      val hourly = t(s, dir, "events")
        .selectExpr("event_type", "(ts div 1000) div 600000000 AS bucket",
          "value")
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(dec(col("value"))).as("s"))
      val spine = hourly.groupBy(col("event_type"))
        .agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
        .select(col("event_type"),
          explode(sequence(col("mn"), col("mx"))).as("bucket"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      spine.join(hourly, Seq("event_type", "bucket"), "left")
        .select(col("event_type"), col("bucket"),
          col("s").isNull.as("filled"),
          last(col("s"), ignoreNulls = true).over(w)
            .cast("double").as("v"))
    },
      """WITH e AS (SELECT event_type, epoch_us(ts) // 600000000 AS bucket,
                             CAST(value AS DECIMAL(18,2)) AS v FROM events),
           h AS (SELECT event_type, bucket, SUM(v) AS s FROM e GROUP BY 1, 2),
           sp AS (SELECT event_type, unnest(range(mn, mx + 1)) AS bucket
                  FROM (SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
                        FROM h GROUP BY event_type)),
           j AS (SELECT sp.event_type, sp.bucket, h.s
                 FROM sp LEFT JOIN h USING (event_type, bucket))
           SELECT event_type, bucket, s IS NULL AS filled,
                  CAST(last_value(s IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY bucket) AS DOUBLE) AS v
           FROM j"""),

    // ----- HOLT double-exponential smoothing per event type: level +
    // trend with α = β = 1/2, one-step-ahead forecast. The recursion
    // state_t = f(state_{t-1}, x_t) is inherently SEQUENTIAL per
    // series — it runs as a single HOF fold over the series' values in
    // (ts, id) order after ONE shuffle groups each series; at 100 TB
    // you partition by series key and each series folds within its own
    // row (the standard per-entity time-series layout; cross-series
    // parallelism is unbounded, within-series is not — that's the
    // algorithm, not the engine). Power-of-two smoothing makes the
    // float recursion ENGINE-EXACT: halving is lossless in IEEE and
    // the fold order is pinned by the sort, so level/trend/forecast are
    // bit-identical across engines and reruns — a general α would
    // accumulate engine-specific rounding at every step. Accumulator
    // is a uniform [level, trend, n] double-array (both dialects lack
    // heterogeneous fold state) -----
    QuerySpec("q_holt_smoothing", (s, dir) => {
      val step =
        "IF(element_at(acc, 3) = 0.0D, array(x, 0.0D, 1.0D), " +
          "array((x + element_at(acc, 1) + element_at(acc, 2)) / 2.0D, " +
          "((x + element_at(acc, 1) + element_at(acc, 2)) / 2.0D " +
          "- element_at(acc, 1)) / 2.0D + element_at(acc, 2) / 2.0D, " +
          "element_at(acc, 3) + 1.0D))"
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("aggregate(transform(sort_array(collect_list(" +
            "struct(ts, event_id, value))), s -> s.value), " +
            s"array(0.0D, 0.0D, 0.0D), (acc, x) -> $step)").as("st"))
        .select(col("event_type"), col("n"),
          expr("element_at(st, 1)").as("level"),
          expr("element_at(st, 2)").as("trend"),
          expr("element_at(st, 1) + element_at(st, 2)").as("forecast"))
    },
      // same fold, same order, same power-of-two arithmetic —
      // element lists are DOUBLE[] singletons so the accumulator and
      // elements share one list type (list_reduce is monomorphic)
      s"""WITH v AS (SELECT event_type,
                  list(value ORDER BY ts, event_id) AS vals,
                  COUNT(*) AS n
                 FROM events GROUP BY event_type),
           f AS (SELECT event_type, n,
                  list_reduce(
                    list_prepend([0.0, 0.0, 0.0],
                      list_transform(vals, x -> [x])),
                    (acc, x) -> CASE WHEN acc[3] = 0.0
                      THEN [x[1], 0.0, 1.0]
                      ELSE [(x[1] + acc[1] + acc[2]) / 2.0,
                            ((x[1] + acc[1] + acc[2]) / 2.0 - acc[1])
                              / 2.0 + acc[2] / 2.0,
                            acc[3] + 1.0] END) AS st
                 FROM v)
           SELECT event_type, n, st[1] AS level, st[2] AS trend,
                  st[1] + st[2] AS forecast
           FROM f"""),

    // ----- A/B test: two-proportion z-score between user cohorts
    // (deterministic split on user_id parity), conversion = reached a
    // 'purchase' event. All counts are exact BIGINTs; the z formula is
    // one fixed chain of IEEE ops (sqrt is correctly rounded), so the
    // doubles are engine-identical — the same discipline as the
    // seasonality/lift queries -----
    QuerySpec("q_ab_test", (s, dir) => {
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 144, 1L).otherwise(0L)).as("conv"))
        .withColumn("cohort", col("user_id") % 2)
      users.groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
        .agg(
          sum(when(col("cohort") === 0, col("n"))).as("n_a"),
          sum(when(col("cohort") === 0, col("k"))).as("k_a"),
          sum(when(col("cohort") === 1, col("n"))).as("n_b"),
          sum(when(col("cohort") === 1, col("k"))).as("k_b"))
        .withColumn("z", expr(
          // e0 literals: see the q_bm25 note
          "(CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b) / " +
            "sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) * " +
            "(1.0e0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) * " +
            "(1.0e0 / n_a + 1.0e0 / n_b))"))
        .withColumn("significant", abs(col("z")) > 1.96)
    },
      """WITH u AS (SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' AND value > 144
                      THEN 1 ELSE 0 END) AS conv,
                  user_id % 2 AS cohort
                 FROM events GROUP BY user_id),
           c AS (SELECT cohort, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS k
                 FROM u GROUP BY cohort),
           s AS (SELECT
                  CAST(SUM(CASE WHEN cohort = 0 THEN n END) AS BIGINT) AS n_a,
                  CAST(SUM(CASE WHEN cohort = 0 THEN k END) AS BIGINT) AS k_a,
                  CAST(SUM(CASE WHEN cohort = 1 THEN n END) AS BIGINT) AS n_b,
                  CAST(SUM(CASE WHEN cohort = 1 THEN k END) AS BIGINT) AS k_b
                 FROM c)
           SELECT n_a, k_a, n_b, k_b,
                  (CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b) /
                    sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
                    (1.0e0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
                    (1.0e0 / n_a + 1.0e0 / n_b)) AS z,
                  abs((CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b) /
                    sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
                    (1.0e0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
                    (1.0e0 / n_a + 1.0e0 / n_b))) > 1.96 AS significant
           FROM s"""),

    // ----- WILSON 95% CI per A/B arm — the interval readout behind
    // q_ab_test's yes/no: score intervals stay inside [0,1] and behave
    // at small k where the normal interval fails. z = 1.96 and
    // z² = 3.8416 ride as exact double literals; sqrt is the one
    // non-trivial function that is correctly rounded in both engines,
    // and every other step is a double op on identical operands — the
    // whole interval is engine-exact with no fixed-point scaffolding. -----
    QuerySpec("q_ab_wilson", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 144, 1L).otherwise(0L)).as("conv"))
        .withColumn("cohort", col("user_id") % 2)
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
        .withColumn("p_hat", expr("CAST(k AS DOUBLE) / n"))
        .withColumn("denom", expr("1.0e0 + 3.8416e0 / n"))
        .withColumn("center",
          expr("(p_hat + 3.8416e0 / (2.0e0 * n)) / denom"))
        .withColumn("half", expr(
          "1.96e0 * sqrt(p_hat * (1.0e0 - p_hat) / n + " +
            "3.8416e0 / (4.0e0 * n * n)) / denom"))
        .select(col("cohort"), col("n"), col("k"), col("p_hat"),
          expr("center - half").as("lo"), expr("center + half").as("hi"))
    },
      """WITH u AS (SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' AND value > 144
                      THEN 1 ELSE 0 END) AS conv,
                  user_id % 2 AS cohort
                 FROM events GROUP BY user_id),
           c AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(conv) AS BIGINT) AS k
                 FROM u GROUP BY cohort),
           w AS (SELECT cohort, n, k,
                        CAST(k AS DOUBLE) / n AS p_hat,
                        1.0e0 + 3.8416e0 / n AS denom
                 FROM c),
           w2 AS (SELECT cohort, n, k, p_hat,
                        (p_hat + 3.8416e0 / (2.0e0 * n)) / denom AS center,
                        1.96e0 * sqrt(p_hat * (1.0e0 - p_hat) / n +
                          3.8416e0 / (4.0e0 * n * n)) / denom AS half
                 FROM w)
           SELECT cohort, n, k, p_hat,
                  center - half AS lo, center + half AS hi
           FROM w2"""),

    // ----- LAST-TOUCH ATTRIBUTION: every purchase credited to the most
    // recent preceding non-purchase event of the same user (last_value
    // IGNORE NULLS over the ordered stream — one window shuffle on
    // user_id, never an event self-join), rolled up to conversions per
    // channel -----
    QuerySpec("q_attribution", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .selectExpr("user_id", "event_id", "event_type", "ts div 1000 AS t_us")
        .withColumn("channel",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" && col("channel").isNotNull)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("conversions"),
          countDistinct(col("user_id")).as("buyers"))
    },
      """WITH e AS (SELECT user_id, event_id, event_type,
                             epoch_us(ts) AS t_us FROM events),
           a AS (SELECT user_id, event_type,
                        last_value(CASE WHEN event_type <> 'purchase'
                            THEN event_type END IGNORE NULLS) OVER (
                          PARTITION BY user_id ORDER BY t_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          AS channel
                 FROM e)
           SELECT channel, COUNT(*) AS conversions,
                  COUNT(DISTINCT user_id) AS buyers
           FROM a WHERE event_type = 'purchase' AND channel IS NOT NULL
           GROUP BY channel"""),

    // ----- LINEAR multi-touch attribution, the last-touch complement:
    // each purchase's credit splits equally over every touch in its
    // journey (journey = run of events up to a purchase, segmented by a
    // running purchase count — one window, no event self-join). Credit
    // is FIXED-POINT ppm ((n_c * 1e6) div n_t summed as BIGINT): IEEE
    // double sums are order-dependent and could never hash-match -----
    QuerySpec("q_attribution_linear", (s, dir) => {
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ev = Dedup.persistTracked(
        t(s, dir, "events")
          .selectExpr("user_id", "event_id", "event_type",
            "ts div 1000 AS t_us")
          .withColumn("journey",
            count(when(col("event_type") === "purchase", 1)).over(wPrev)))
      val touches = Dedup.persistTracked(
        ev.filter(col("event_type") =!= "purchase")
          .groupBy(col("user_id"), col("journey"),
            col("event_type").as("channel"))
          .agg(count(lit(1)).as("n_c")))
      val totals = touches.groupBy(col("user_id"), col("journey"))
        .agg(sum(col("n_c")).as("n_t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("journey"))
        .agg(count(lit(1)).as("n_conv"))
      touches.join(totals, Seq("user_id", "journey"))
        .join(purchases, Seq("user_id", "journey"))
        .groupBy(col("channel"))
        .agg(sum(expr("n_conv * ((n_c * 1000000L) div n_t)"))
            .as("credit_ppm"),
          sum(col("n_conv")).as("conversions_touched"))
    },
      """WITH e AS (SELECT user_id, event_id, event_type,
                             epoch_us(ts) AS t_us FROM events),
           j AS (SELECT user_id, event_id, event_type,
                        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                          OVER (PARTITION BY user_id ORDER BY t_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          AS journey
                 FROM e),
           t AS (SELECT user_id, journey, event_type AS channel,
                        COUNT(*) AS n_c
                 FROM j WHERE event_type <> 'purchase' GROUP BY 1, 2, 3),
           tot AS (SELECT user_id, journey, CAST(SUM(n_c) AS BIGINT) AS n_t
                   FROM t GROUP BY 1, 2),
           p AS (SELECT user_id, journey, COUNT(*) AS n_conv FROM j
                 WHERE event_type = 'purchase' GROUP BY 1, 2)
           SELECT channel,
                  CAST(SUM(n_conv * ((n_c * 1000000) // n_t)) AS BIGINT)
                    AS credit_ppm,
                  CAST(SUM(n_conv) AS BIGINT) AS conversions_touched
           FROM t JOIN tot USING (user_id, journey)
                  JOIN p USING (user_id, journey)
           GROUP BY channel"""),

    // ----- CONVERSION LATENCY BUCKETS: the q_time_to_convert rollup —
    // what share of first purchases land within 1h / 24h / 7d of the
    // first click (exact integer second buckets; shares as one division
    // each) — the attribution-window sizing readout. -----
    QuerySpec("q_conversion_window", (s, dir) => {
      val ttc = t(s, dir, "events")
        .withColumn("t_us", expr("ts div 1000"))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "click", col("t_us")))
            .as("fc"),
          min(when(col("event_type") === "purchase", col("t_us")))
            .as("fp"))
        .filter(col("fc").isNotNull && col("fp").isNotNull &&
          col("fp") >= col("fc"))
        .select(expr("(fp - fc) div 1000000").as("secs"))
      ttc.agg(count(lit(1)).as("n_converted"),
          sum(when(col("secs") <= 3600L, 1L).otherwise(0L)).as("in_1h"),
          sum(when(col("secs") <= 86400L, 1L).otherwise(0L)).as("in_24h"),
          sum(when(col("secs") <= 604800L, 1L).otherwise(0L)).as("in_7d"))
        .select(col("n_converted"), col("in_1h"), col("in_24h"), col("in_7d"),
          expr("CAST(in_1h AS DOUBLE) / n_converted").as("share_1h"),
          expr("CAST(in_24h AS DOUBLE) / n_converted").as("share_24h"))
    },
      """WITH u AS (SELECT user_id,
                  MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS fc,
                  MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp
                 FROM events GROUP BY user_id),
           s AS (SELECT (fp - fc) // 1000000 AS secs FROM u
                 WHERE fc IS NOT NULL AND fp IS NOT NULL AND fp >= fc),
           a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
                  CAST(SUM(CASE WHEN secs <= 3600 THEN 1 ELSE 0 END) AS BIGINT) AS in_1h,
                  CAST(SUM(CASE WHEN secs <= 86400 THEN 1 ELSE 0 END) AS BIGINT) AS in_24h,
                  CAST(SUM(CASE WHEN secs <= 604800 THEN 1 ELSE 0 END) AS BIGINT) AS in_7d
                 FROM s)
           SELECT n_converted, in_1h, in_24h, in_7d,
                  CAST(in_1h AS DOUBLE) / n_converted AS share_1h,
                  CAST(in_24h AS DOUBLE) / n_converted AS share_24h
           FROM a"""),

    // ----- TIME-BOUNDED FUNNEL: view -> click within 1h of the first
    // view -> purchase within 24h of that click. Unlike q_funnel's
    // unbounded ordering, each stage has a deadline — the shape real
    // conversion analysis uses. Three per-user aggregations, each a
    // conditional min over the already-grouped events; no self-join
    // of the event stream -----
    QuerySpec("q_funnel_windowed", (s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("user_id", "event_type", "ts div 1000 AS t_us")
      // persist barriers: v feeds the click join AND the final funnel
      // spine; c feeds the purchase join AND the spine — unpersisted,
      // each stage's aggregation re-executes per consumer (events x6)
      val v = graft.operators.Dedup.persistTracked(
        ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("t_us")).as("t_view")))
      val c = graft.operators.Dedup.persistTracked(
        ev.filter(col("event_type") === "click")
          .join(v, "user_id")
          .filter(col("t_us") > col("t_view") &&
            col("t_us") <= col("t_view") + expr("3600000000"))
          .groupBy(col("user_id"), col("t_view"))
          .agg(min(col("t_us")).as("t_click")))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("t_us") > col("t_click") &&
          col("t_us") <= col("t_click") + expr("86400000000"))
        .groupBy(col("user_id")).agg(min(col("t_us")).as("t_buy"))
      v.join(c.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(
          when(col("t_buy").isNotNull, lit(3L))
            .when(col("t_click").isNotNull, lit(2L))
            .otherwise(lit(1L)).as("stage"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t_us
                      FROM events),
           v AS (SELECT user_id, MIN(t_us) AS t_view FROM e
                 WHERE event_type = 'view' GROUP BY user_id),
           c AS (SELECT e.user_id, t_view, MIN(t_us) AS t_click
                 FROM e JOIN v ON e.user_id = v.user_id
                 WHERE event_type = 'click' AND t_us > t_view
                   AND t_us <= t_view + 3600000000
                 GROUP BY e.user_id, t_view),
           p AS (SELECT e.user_id, MIN(t_us) AS t_buy
                 FROM e JOIN c ON e.user_id = c.user_id
                 WHERE event_type = 'purchase' AND t_us > t_click
                   AND t_us <= t_click + 86400000000
                 GROUP BY e.user_id),
           s AS (SELECT CASE WHEN t_buy IS NOT NULL THEN 3
                             WHEN t_click IS NOT NULL THEN 2
                             ELSE 1 END AS stage
                 FROM v LEFT JOIN c USING (user_id)
                        LEFT JOIN p USING (user_id))
           SELECT CAST(stage AS BIGINT) AS stage, COUNT(*) AS n_users
           FROM s GROUP BY stage"""),

    // ----- USER PATH analysis: each user's first three events as an
    // ordered path string, counted across users — the "top paths into
    // the product" readout. One window over the user partition (the
    // stream never self-joins); deterministic tie-break on event_id -----
    QuerySpec("q_user_paths", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      t(s, dir, "events")
        .selectExpr("user_id", "event_id", "event_type", "ts div 1000 AS t_us")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"))
        // collect_list order is partition-dependent: sort the (rn, type)
        // structs (rn leads, so sort_array restores event order) before
        // building the path string — deterministic under any shuffle
        .agg(expr("concat_ws('>', transform(" +
          "sort_array(collect_list(struct(rn, event_type))), " +
          "x -> x.event_type))").as("path0"))
        .groupBy(col("path0").as("path"))
        .agg(count(lit(1)).as("n_users"))
    },
      """WITH e AS (SELECT user_id, event_id, event_type,
                             epoch_us(ts) AS t_us FROM events),
           r AS (SELECT user_id, event_type,
                        ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY t_us, event_id) AS rn FROM e),
           pp AS (SELECT user_id,
                         array_to_string(list(event_type ORDER BY rn), '>')
                           AS path
                  FROM r WHERE rn <= 3 GROUP BY user_id)
           SELECT path, COUNT(*) AS n_users FROM pp GROUP BY path""")
  )
}
