package graft
package queries

import graft.operators._
import graft.sources.{AmazonMetaParser, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Events and time series: windows, sessions, as-of and interval joins,
  * funnels, retention, gap-fill, smoothing, changepoints and the sketches
  * and cohort tables over the event and order streams. */
private[graft] object EventQueries {

  val specs: Seq[QuerySpec] = Seq(
    // --- events: windowed agg + sessionization --------------------------
    QuerySpec("q28_events_window", ((s, d) =>
      graft.streaming.EventStream.tumblingCounts(Tables.events(s, d))
        .withColumn("sum_value", round(col("sum_value"), 4))),
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start,
        |  time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS win_end,
        |  event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin),

    QuerySpec("q47_events_sliding", ((s, d) =>
      graft.streaming.EventStream.slidingCounts(Tables.events(s, d))
        .withColumn("sum_value", round(col("sum_value"), 4))),
      """WITH w AS (SELECT
        |    unnest([time_bucket(INTERVAL '5 minutes', ts),
        |            time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS win_start,
        |    event_type, value
        |  FROM events)
        |SELECT win_start, win_start + INTERVAL '10 minutes' AS win_end,
        |  event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM w GROUP BY 1, 2, 3""".stripMargin),

    // Sketch-based cardinality (HyperLogLog++) with its accuracy contract
    // verified in-plan against the exact distinct count: the sketch is
    // the 100 TB operator (map-side mergeable state, no distinct
    // shuffle); the exact side exists to earn the bound. rsd=0.05 ⇒
    // gate at ±20% (4 sigma: per-group tail ~6e-5, so the gate can't
    // flake across groups and rounds the way a 3-sigma bound could).
    QuerySpec("q50_approx_distinct", ((s, d) => Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.05).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.20).as("within_bounds"))),
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  true AS within_bounds
        |FROM events GROUP BY 1""".stripMargin),

    // Exact order-statistics per group: Spark's sort-based percentile
    // (linear interpolation) is bit-comparable to DuckDB quantile_cont,
    // unlike approx_percentile — the deterministic choice when the
    // oracle hash-matches values.
    QuerySpec("q49_event_stats", ((s, d) => Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 4).as("vmin"),
        round(max(col("value")), 4).as("vmax"),
        round(avg(col("value")), 6).as("vavg"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"))),
      """SELECT event_type, count(*) AS n,
        |  round(min(value), 4) AS vmin, round(max(value), 4) AS vmax,
        |  round(avg(value), 6) AS vavg,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY 1""".stripMargin),

    // --- OLAP cube: (event_type × day) with all rollup margins ----------
    // One shuffle; Spark expands grouping sets map-side before the
    // exchange, so margins cost one pass, not one query per margin.
    QuerySpec("q60_cube", ((s, d) => Tables.events(s, d)
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"),
        grouping_id(col("event_type"), col("day")).cast("int").as("gid"))),
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |  count(*) AS n, round(sum(value), 4) AS sum_value,
        |  GROUPING(event_type, day)::INT AS gid
        |FROM events GROUP BY CUBE (event_type, day)""".stripMargin),

    // --- ordered-window analytics: per-user moving average + delta ------
    // The feature-engineering window shape: one exchange on user_id,
    // incremental 4-row frame, exact lag delta.
    QuerySpec("q61_moving_avg", ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")), col("event_id"))
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("value"),
        round(avg(col("value")).over(
          w.rowsBetween(-3, Window.currentRow)), 6).as("mavg4"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"))
    }),
      """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mavg4,
        |  value - lag(value, 1) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS delta
        |FROM events""".stripMargin),

    // --- replay dedup: exactly-once ingestion, batch backfill form ------
    // Replays PLANTED (every 50th event re-arrives an hour later with a
    // corrupted value): keep-first must collapse them to the original
    // row. The streaming form (dropDuplicatesWithinWatermark) is
    // MemoryStream-tested in EventStreamSpec.
    QuerySpec("q62_replay_dedup", ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "ts", "value")
      val replay = ev.where(col("event_id") % 50 === 0)
        .select(col("event_id"), (col("ts") + expr("INTERVAL 1 HOUR")).as("ts"),
          (col("value") + 1000.0).as("value"))
      graft.streaming.EventStream.dedupeReplays(ev.unionByName(replay))
        .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"),
          col("value"), col("n_arrivals"))
    }),
      """WITH u AS (
        |  SELECT event_id, ts, value FROM events
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL 1 HOUR AS ts, value + 1000.0 AS value
        |  FROM events WHERE event_id % 50 = 0),
        |r AS (SELECT event_id, ts, value,
        |    count(*) OVER (PARTITION BY event_id) AS n_arrivals,
        |    row_number() OVER (PARTITION BY event_id
        |      ORDER BY epoch_us(ts), value) AS rn
        |  FROM u)
        |SELECT event_id, epoch_ms(ts) AS ts_ms, value, n_arrivals
        |FROM r WHERE rn = 1""".stripMargin),

    // --- temporal as-of join: latest view before each purchase ----------
    // The benched plan is the mega-user-safe bucketed form (1-day
    // buckets): window partitions are (user, day), never a user's whole
    // history. Bucketed ≡ plain is property-tested for any bucket size.
    QuerySpec("q57_asof_join", ((s, d) =>
      AsOfJoin.latestBeforeBucketed(Tables.events(s, d), "view", "purchase",
        86400000000L)),
      """WITH ev AS (SELECT event_id, user_id, ts, value,
        |    (event_type = 'purchase') AS is_probe
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |o AS (SELECT *,
        |    last_value(CASE WHEN NOT is_probe THEN event_id END IGNORE NULLS)
        |      OVER w AS asof_event_id,
        |    last_value(CASE WHEN NOT is_probe THEN epoch_ms(ts) END IGNORE NULLS)
        |      OVER w AS asof_ts_ms
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), is_probe, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value,
        |  asof_event_id, asof_ts_ms, epoch_ms(ts) - asof_ts_ms AS gap_ms
        |FROM o WHERE is_probe""".stripMargin),

    // --- attribution funnel: view→purchase conversion per day -----------
    // Composes the as-of join: a purchase "converts" when the latest
    // preceding view of the same user is within the 1-hour window.
    QuerySpec("q67_conversion", ((s, d) =>
      AsOfJoin.latestBeforeBucketed(Tables.events(s, d), "view", "purchase",
        86400000000L)
        .select(date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd").as("day"),
          (col("gap_ms").isNotNull && col("gap_ms") <= 3600000L).as("cv"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_purchases"),
          count(when(col("cv"), 1)).as("n_converted"))),
      """WITH ev AS (SELECT event_id, user_id, ts,
        |    (event_type = 'purchase') AS is_probe
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |o AS (SELECT *,
        |    last_value(CASE WHEN NOT is_probe THEN epoch_ms(ts) END IGNORE NULLS)
        |      OVER w AS asof_ts_ms
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), is_probe, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_purchases,
        |  count(CASE WHEN asof_ts_ms IS NOT NULL
        |             AND epoch_ms(ts) - asof_ts_ms <= 3600000 THEN 1 END) AS n_converted
        |FROM o WHERE is_probe GROUP BY 1""".stripMargin),

    // --- semi-structured props: JSON extraction + rollup ----------------
    // events.props is a JSON string; from_json with an explicit schema
    // (codegen'd Jackson parse, no UDF) extracts k map-side and one
    // aggregate rolls it up — the semi-structured ingestion path every
    // event pipeline needs.
    QuerySpec("q95_json_props", ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          round(avg(col("k")), 6).as("avg_k"))),
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        |  round(avg(json_extract_string(props, '$.k')::BIGINT), 6) AS avg_k
        |FROM events GROUP BY 1""".stripMargin),

    // --- windowed z-score anomaly flags ---------------------------------
    // Per user, each value against the mean/stddev of its 8 PRECEDING
    // events (frame excludes current row — no self-inflation); |z| > 2
    // flags the anomaly. One user_id exchange, incremental frame.
    QuerySpec("q96_anomaly_zscore", ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("__t"), col("event_id")).rowsBetween(-8, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("__t"), col("value"))
        .withColumn("mu", avg(col("value")).over(w))
        .withColumn("sd", stddev_samp(col("value")).over(w))
        .withColumn("z", when(col("sd").isNull || col("sd") === 0.0, lit(null))
          .otherwise(round((col("value") - col("mu")) / col("sd"), 6)))
        .select(col("user_id"), col("event_id"), col("value"),
          round(col("mu"), 6).as("mu"), col("z"),
          coalesce(abs(col("z")) > 2.0, lit(false)).as("is_anomaly"))
    }),
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events),
        |s AS (SELECT user_id, event_id, value,
        |    avg(value) OVER w AS mu, stddev_samp(value) OVER w AS sd
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
        |                      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, value, round(mu, 6) AS mu,
        |  CASE WHEN sd IS NULL OR sd = 0 THEN NULL
        |       ELSE round((value - mu) / sd, 6) END AS z,
        |  coalesce(abs(CASE WHEN sd IS NULL OR sd = 0 THEN NULL
        |                    ELSE round((value - mu) / sd, 6) END) > 2.0, false)
        |    AS is_anomaly
        |FROM s""".stripMargin),

    // --- weekly cohort retention (the OLAP funnel dashboard query) ------
    // Cohort = week of first signup; activity = any event in week w;
    // rate = active users / cohort size per (cohort, offset). Two
    // distinct-aggregates + one join, all equi-keyed on user/week.
    QuerySpec("q88_retention", ((s, d) => {
      val ev = Tables.events(s, d)
      val su = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(date_trunc("week", col("ts"))).as("cw"))
      val act = ev.select(col("user_id"),
        date_trunc("week", col("ts")).as("aw")).distinct()
      val coh = su.groupBy("cw").agg(countDistinct("user_id").as("n_cohort"))
      su.join(act, Seq("user_id")).where(col("aw") >= col("cw"))
        .withColumn("week_offset",
          (datediff(col("aw"), col("cw")) / 7).cast("long"))
        .groupBy("cw", "week_offset")
        .agg(countDistinct("user_id").as("n_active"))
        .join(coh, Seq("cw"))
        .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"), col("n_active"), col("n_cohort"),
          round(col("n_active").cast("double") / col("n_cohort").cast("double"), 6)
            .as("rate"))
    }),
      """WITH su AS (SELECT user_id, min(date_trunc('week', ts)) AS cw
        |           FROM events WHERE event_type = 'signup' GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events),
        |coh AS (SELECT cw, count(DISTINCT user_id) AS n_cohort FROM su GROUP BY 1),
        |j AS (SELECT su.user_id, su.cw, act.aw,
        |        date_diff('day', su.cw, act.aw) // 7 AS week_offset
        |      FROM su JOIN act USING (user_id) WHERE act.aw >= su.cw),
        |g AS (SELECT cw, week_offset, count(DISTINCT user_id) AS n_active
        |      FROM j GROUP BY 1, 2)
        |SELECT strftime(g.cw, '%Y-%m-%d') AS cohort_week,
        |  g.week_offset::BIGINT AS week_offset, g.n_active::BIGINT AS n_active,
        |  coh.n_cohort::BIGINT AS n_cohort,
        |  round(g.n_active::DOUBLE / coh.n_cohort::DOUBLE, 6) AS rate
        |FROM g JOIN coh ON g.cw = coh.cw""".stripMargin),

    // --- stream-stream interval join: all view→click pairs in 30 min ---
    // The benched plan is the bucketed batch form (join key =
    // (user, 30-min bucket), view explodes to its 2 reachable buckets) —
    // join buffers bounded by events-per-window, not events-per-user.
    // The watermarked streaming form of the same semantics is
    // EventStream.intervalJoin (MemoryStream-tested, proven equal).
    QuerySpec("q83_interval_join", ((s, d) =>
      graft.streaming.EventStream.intervalJoinBucketed(
        Tables.events(s, d), "view", "click", 1800000000L)),
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_ts_us
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_ts_us
        |      FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, click_id, v_ts_us, c_ts_us,
        |  (c_ts_us - v_ts_us) AS gap_us
        |FROM v JOIN c ON v.user_id = c.user_id
        |WHERE c_ts_us >= v_ts_us AND c_ts_us - v_ts_us <= 1800000000""".stripMargin),

    // --- sketch percentiles with an in-plan accuracy contract -----------
    // percentile_approx (GK sketch: mergeable, bounded memory) is the
    // 100 TB operator; the exact sort-based percentile exists to earn
    // the bound. accuracy=1000 ⇒ rank error ≤ n/1000; gate the VALUE
    // error at 2% of the per-group range (loose enough for any merge
    // order, tight enough to catch a broken sketch).
    QuerySpec("q64_approx_pct", ((s, d) => Tables.events(s, d)
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.9)").as("exact_p90"),
        percentile_approx(col("value"), lit(0.9), lit(1000)).as("approx_p90"),
        (max(col("value")) - min(col("value"))).as("rng"))
      .select(col("event_type"),
        (abs(col("approx_p90") - col("exact_p90")) <= col("rng") * 0.02)
          .as("within_bounds"))),
      """SELECT DISTINCT event_type, true AS within_bounds FROM events"""),

    QuerySpec("q29_sessions", ((s, d) => {
      val sess = graft.streaming.EventStream.sessionizeBatch(
        Tables.events(s, d), 28800000L)
      val w = Window.partitionBy("user_id").orderBy(col("session_id").desc)
      sess.withColumn("__r", row_number().over(w)).where(col("__r") === 1)
        .select(col("user_id"), col("session_id"), col("n_events"))
    }),
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS t, event_id FROM events),
        |s AS (SELECT user_id, t, event_id,
        |  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL THEN 0
        |       WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 28800000 THEN 1
        |       ELSE 0 END AS brk
        |  FROM e),
        |c AS (SELECT user_id,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |g AS (SELECT user_id, sid, count(*) AS n FROM c GROUP BY 1, 2)
        |SELECT user_id, sid::BIGINT AS session_id, n::BIGINT AS n_events FROM g
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY sid DESC) = 1""".stripMargin),

    // --- native session windows: the declarative sessionizer ------------
    // Spark's session_window is the idiomatic form of gap sessionization
    // (dynamic windows merged in the aggregate — works identically under
    // readStream with state eviction by watermark). Boundary convention
    // differs from q29's lag-form: session_window CLOSES at gap-equality
    // (next.ts >= prev.ts + gap splits), the lag-form splits only when
    // strictly greater — the oracle encodes >=. Full session list, not
    // just the last: start, end = last_ts + gap, size.
    QuerySpec("q69_session_window", ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "8 hours"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_millis(col("session_window.start")).as("win_start_ms"),
          unix_millis(col("session_window.end")).as("win_end_ms"),
          col("n_events"))),
      // session_window boundary convention: >= gap splits (see the query).
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS t, event_id FROM events),
        |s AS (SELECT user_id, t, event_id,
        |  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL THEN 0
        |       WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) >= 28800000 THEN 1
        |       ELSE 0 END AS brk
        |  FROM e),
        |c AS (SELECT user_id, t,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT user_id, min(t)::BIGINT AS win_start_ms,
        |  (max(t) + 28800000)::BIGINT AS win_end_ms, count(*)::BIGINT AS n_events
        |FROM c GROUP BY user_id, sid""".stripMargin),

    // --- hourly gap-fill + forward fill (dense time series) ---------------
    // resample('1H').ffill() as one declarative plan: per-user hourly
    // fixed-point sums, a per-user hour grid (sequence bounded by each
    // user's own span), and a running last(ignoreNulls) carrying the
    // value across gap hours.
    QuerySpec("q107_gapfill", ((s, d) =>
      Timeseries.gapFill(
        Tables.events(s, d).where(col("user_id") % 10 === 0),
        "user_id", "ts", "value")
        .select(col("user_id"), col("hour"), col("n_events"),
          round(col("value_filled"), 6).as("value_filled"), col("is_gap"))),
      """WITH h AS (SELECT user_id, date_trunc('hour', ts) AS hour,
        |    sum(floor(value * 1e6 + 0.5::DOUBLE)::BIGINT)::BIGINT / 1e6 AS v,
        |    count(*)::BIGINT AS n
        |  FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
        |span AS (SELECT user_id, min(hour) AS lo, max(hour) AS hi FROM h GROUP BY 1),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM span)
        |SELECT g.user_id, g.hour, coalesce(h.n, 0)::BIGINT AS n_events,
        |  round(last_value(h.v IGNORE NULLS) OVER (PARTITION BY g.user_id
        |    ORDER BY g.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS value_filled,
        |  h.n IS NULL AS is_gap
        |FROM grid g LEFT JOIN h ON g.user_id = h.user_id AND g.hour = h.hour""".stripMargin),

    // --- SCD Type-2 validity intervals (gaps-and-islands) -----------------
    // Each user's event_type stream compressed to one row per run of
    // consecutive equal values with [valid_from, valid_to) bounds — the
    // dimension-history build of a warehouse load, open intervals closed
    // at a high-date sentinel so no NULL ever reaches a range scan.
    QuerySpec("q108_scd2", ((s, d) =>
      Timeseries.scd2(
        Tables.events(s, d).where(col("user_id") % 10 === 0)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id")),
        "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("version"), col("attr").as("segment"),
          col("valid_from"), col("valid_to"), col("n_obs"), col("is_current"))),
      """WITH src AS (SELECT user_id, event_type, ts, event_id FROM events
        |  WHERE user_id % 10 = 0),
        |flg AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w != event_type THEN 1 ELSE 0 END AS chg
        |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs0 AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS version
        |  FROM flg),
        |runs AS (SELECT user_id, version, max(event_type) AS segment,
        |    min(ts) AS valid_from, count(*)::BIGINT AS n_obs
        |  FROM runs0 GROUP BY 1, 2)
        |SELECT user_id, version, segment, valid_from,
        |  coalesce(lead(valid_from) OVER wv,
        |    TIMESTAMP_NS '2100-01-01 00:00:00') AS valid_to,
        |  n_obs, lead(valid_from) OVER wv IS NULL AS is_current
        |FROM runs WINDOW wv AS (PARTITION BY user_id ORDER BY version)""".stripMargin),

    // --- next-item prediction examples (sequential recommender prep) ------
    // (context = previous 3 items oldest→newest, target = current item)
    // per event with ≥1 predecessor: a bounded lag stack, never a
    // collect_list, so per-row state is O(historyLen) at any user size.
    QuerySpec("q109_next_item", ((s, d) =>
      Timeseries.nextItemExamples(
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id")),
        "user_id", "event_type", "ts", "event_id", historyLen = 3)),
      """WITH w0 AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER w AS position,
        |    lag(event_type, 3) OVER w AS l3, lag(event_type, 2) OVER w AS l2,
        |    lag(event_type, 1) OVER w AS l1
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, position,
        |  concat_ws(' > ', l3, l2, l1) AS context, event_type AS target
        |FROM w0 WHERE l1 IS NOT NULL""".stripMargin),

    // --- Markov transition matrix over user event sequences ---------------
    // P(next event type | type) from adjacent pairs in (ts, event_id)
    // order — integer counts, one double division per cell.
    QuerySpec("q143_transitions", ((s, d) =>
      Timeseries.transitions(Tables.events(s, d), "user_id", "event_type",
        "ts", "event_id")),
      """WITH p AS (SELECT event_type AS src_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS dst_state
        |  FROM events),
        |c AS (SELECT src_state, dst_state, count(*)::BIGINT AS n FROM p
        |  WHERE dst_state IS NOT NULL GROUP BY 1, 2)
        |SELECT src_state, dst_state, n,
        |  round(n::DOUBLE / (sum(n) OVER (PARTITION BY src_state))::DOUBLE, 6)
        |    AS p
        |FROM c""".stripMargin),

    // --- strict ordered conversion funnel -----------------------------------
    // view → click → purchase where each step counts only at-or-after
    // the user's first completion of the previous step.
    QuerySpec("q148_funnel", ((s, d) =>
      Timeseries.funnel(Tables.events(s, d), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))),
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT 1 AS step, 'view' AS step_name,
        |  (SELECT count(*) FROM s1)::BIGINT AS n_keys
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin),

    // --- bounded-lag EWMA smoothing ------------------------------------------
    // Per-user exponentially-weighted value signal, truncated at 6 lags
    // so each row is a fixed lag-stack combination (no sequential scan).
    QuerySpec("q150_ewma", ((s, d) =>
      Timeseries.ewma(Tables.events(s, d), "user_id", "ts", "event_id",
        "value", 0.5, 6)),
      {
        // α = 0.5 keeps every weight an exact binary double (1, 0.5,
        // 0.25, …) — the lag-chain addition order mirrors the Spark
        // reduceLeft term by term.
        val num = (0 to 6).map {
          case 0 => "cents::DOUBLE * 1.0"
          case i =>
            s"CASE WHEN x$i IS NOT NULL THEN x$i::DOUBLE * ${math.pow(0.5, i)} ELSE 0.0 END"
        }.mkString(" + ")
        val den = (0 to 6).map {
          case 0 => "1.0"
          case i => s"CASE WHEN x$i IS NOT NULL THEN ${math.pow(0.5, i)} ELSE 0.0 END"
        }.mkString(" + ")
        s"""WITH b AS (SELECT user_id, event_id, ts,
          |    floor(value * 100 + 0.5::DOUBLE)::BIGINT AS cents FROM events),
          |l AS (SELECT user_id, event_id, cents,
          |    ${(1 to 6).map(i => s"lag(cents, $i) OVER w AS x$i").mkString(", ")}
          |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |SELECT user_id, event_id, cents,
          |  round(($num) / ($den), 6) AS ewma
          |FROM l""".stripMargin
      }),

    // --- cohort retention matrix ----------------------------------------------
    QuerySpec("q155_retention", ((s, d) =>
      Timeseries.retentionCohorts(Tables.events(s, d), "user_id", "ts")),
      """WITH pairs AS (SELECT DISTINCT user_id AS k,
        |    date_trunc('week', ts)::DATE AS wk FROM events),
        |c AS (SELECT k, min(wk) AS cohort_week FROM pairs GROUP BY 1)
        |SELECT c.cohort_week,
        |  (date_diff('day', c.cohort_week, p.wk) // 7)::BIGINT AS week_offset,
        |  count(*) AS n_users
        |FROM pairs p JOIN c USING (k) GROUP BY 1, 2""".stripMargin),

    // --- rolling active users (DAU/WAU/MAU) ------------------------------------
    // Exact sliding distinct counts via bounded ×28 fan-out of the
    // distinct (user, day) set — no range join, no per-user sort.
    QuerySpec("q156_active_users", ((s, d) =>
      Timeseries.activeUsers(Tables.events(s, d), "user_id", "ts")),
      """WITH pairs AS (SELECT DISTINCT user_id AS k, ts::DATE AS d FROM events),
        |days AS (SELECT DISTINCT d AS day FROM pairs)
        |SELECT dy.day,
        |  count(DISTINCT CASE WHEN p.d = dy.day THEN p.k END) AS dau,
        |  count(DISTINCT CASE WHEN date_diff('day', p.d, dy.day) < 7 THEN p.k END)
        |    AS wau,
        |  count(DISTINCT p.k) AS mau
        |FROM pairs p JOIN days dy ON dy.day BETWEEN p.d AND p.d + 27
        |GROUP BY 1""".stripMargin),

    // --- CUSUM mean-shift changepoint flags -------------------------------------
    // Rows where a user's cumulative deviation from their own mean value
    // exceeds $300 — all-integer statistic, threshold in cents.
    QuerySpec("q158_cusum", ((s, d) =>
      Timeseries.cusumFlags(Tables.events(s, d), "user_id", "ts",
        "event_id", "value", 30000L)),
      """WITH b AS (SELECT user_id, event_id, ts,
        |    floor(value * 100 + 0.5::DOUBLE)::BIGINT AS c FROM events),
        |w AS (SELECT user_id, event_id,
        |    sum(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS prefix,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(c) OVER (PARTITION BY user_id) AS s
        |  FROM b)
        |SELECT user_id, event_id,
        |  (n::HUGEINT * prefix::HUGEINT - i::HUGEINT * s::HUGEINT)
        |    ::BIGINT AS cusum_scaled,
        |  n::BIGINT AS n
        |FROM w
        |WHERE abs(n::HUGEINT * prefix::HUGEINT - i::HUGEINT * s::HUGEINT)
        |      > 30000::HUGEINT * n::HUGEINT""".stripMargin),

    // --- last-touch attribution ---------------------------------------------------
    // Revenue credited to the day of the most recent click preceding each
    // purchase (the as-of join re-aggregated to the TOUCH day, not the
    // conversion day — marketing's view of the same events).
    QuerySpec("q159_attribution", ((s, d) =>
      AsOfJoin.latestBefore(Tables.events(s, d), "click", "purchase")
        .where(col("asof_event_id").isNotNull)
        .groupBy(to_date(timestamp_millis(col("asof_ts_ms"))).as("touch_day"))
        .agg(count(lit(1)).as("n_conversions"),
          sum(floor(col("value") * lit(100) + lit(0.5)).cast("long"))
            .as("attributed_cents"))),
      """WITH ev AS (SELECT event_id, user_id, ts, value,
        |    (event_type = 'purchase') AS is_probe
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |o AS (SELECT *,
        |    last_value(CASE WHEN NOT is_probe THEN event_id END IGNORE NULLS)
        |      OVER w AS asof_event_id,
        |    last_value(CASE WHEN NOT is_probe THEN epoch_ms(ts) END IGNORE NULLS)
        |      OVER w AS asof_ts_ms
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), is_probe, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT make_timestamp(asof_ts_ms * 1000)::DATE AS touch_day,
        |  count(*) AS n_conversions,
        |  sum(floor(value * 100 + 0.5::DOUBLE)::BIGINT)::BIGINT
        |    AS attributed_cents
        |FROM o WHERE is_probe AND asof_event_id IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // --- mergeable histogram quantiles ------------------------------------------
    // p50/p95/p99 of event values per type from $1 bins — exact integer
    // readout, error ≤ bin width, state sums across shards/days.
    QuerySpec("q161_hist_quantiles", ((s, d) =>
      Sketch.histQuantiles(Tables.events(s, d), "event_type", "value")),
      """WITH b AS (SELECT event_type,
        |    least(floor(value * 100 + 0.5::DOUBLE)::BIGINT // 100, 1023) AS bin
        |  FROM events),
        |g AS (SELECT event_type, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |w AS (SELECT event_type, bin, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bin
        |                 ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n FROM g)
        |SELECT event_type, max(n)::BIGINT AS n,
        |  min(CASE WHEN cum * 100 >= 50 * n THEN (bin + 1) * 100 END)::BIGINT
        |    AS p50_cents,
        |  min(CASE WHEN cum * 100 >= 95 * n THEN (bin + 1) * 100 END)::BIGINT
        |    AS p95_cents,
        |  min(CASE WHEN cum * 100 >= 99 * n THEN (bin + 1) * 100 END)::BIGINT
        |    AS p99_cents
        |FROM w GROUP BY 1""".stripMargin),

    // --- window-over-window trending --------------------------------------------
    // Rising suppliers: order-line volume in the trailing 180 days vs
    // the 180 before, anchored at the corpus max order date.
    QuerySpec("q162_trending", ((s, d) =>
      Timeseries.trending(
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey"), to_date(col("o_orderdate")).as("day")),
        "l_suppkey", "day", 180, 5L, 10)),
      """WITH li AS (SELECT l.l_suppkey, o.o_orderdate::DATE AS day
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |mx AS (SELECT max(day) AS maxd FROM li),
        |c AS (SELECT l_suppkey AS key,
        |    count(CASE WHEN date_diff('day', day, maxd) >= 180 THEN 1 END)
        |      AS c_prior,
        |    count(CASE WHEN date_diff('day', day, maxd) < 180 THEN 1 END)
        |      AS c_recent
        |  FROM li CROSS JOIN mx
        |  WHERE date_diff('day', day, maxd) < 360 GROUP BY 1)
        |SELECT key, c_prior, c_recent,
        |  round((c_recent + 1)::DOUBLE / (c_prior + 1)::DOUBLE, 6) AS lift
        |FROM c WHERE c_recent >= 5
        |ORDER BY lift DESC, key LIMIT 10""".stripMargin),

    // --- hour-of-day seasonal profile ---------------------------------------------
    QuerySpec("q164_seasonal", ((s, d) =>
      Timeseries.seasonalProfile(Tables.events(s, d), "event_type", "ts",
        "value")),
      """SELECT event_type, hour(ts)::BIGINT AS hour, count(*) AS n,
        |  round(sum(floor(value * 100 + 0.5::DOUBLE)::BIGINT)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS mean_cents
        |FROM events GROUP BY 1, 2""".stripMargin),

    // --- top session paths --------------------------------------------------------
    // First 5 event types per 8h-gap session (the q29 sessionization
    // rule), counted corpus-wide.
    QuerySpec("q168_session_paths", ((s, d) =>
      Timeseries.sessionPaths(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type", 28800000L, 5, 10)),
      """WITH b AS (SELECT user_id, event_id, epoch_ms(ts) AS t, event_type
        |  FROM events),
        |w AS (SELECT *, CASE WHEN lag(t) OVER sw IS NULL THEN 0
        |    WHEN t - lag(t) OVER sw >= 28800000 THEN 1 ELSE 0 END AS brk
        |  FROM b WINDOW sw AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM w),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid
        |    ORDER BY t, event_id) AS rn FROM s),
        |p AS (SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY t, event_id) AS path
        |  FROM r WHERE rn <= 5 GROUP BY 1, 2)
        |SELECT path, count(*) AS n FROM p GROUP BY 1
        |ORDER BY n DESC, path LIMIT 10""".stripMargin),

    // --- quantile-sketch audit (in-plan accuracy contract) ------------------------
    // The q161 sketch readout vs the exact discrete quantile, per group:
    // the upper-bin-edge readout must sit in (v_q, v_q + binCents] — the
    // q33/q34-style self-auditing contract, all in integer arithmetic.
    QuerySpec("q170_quantile_audit", ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sk = Sketch.histQuantiles(Tables.events(s, d), "event_type", "value")
      val cents = floor(col("value") * lit(100) + lit(0.5)).cast("long")
      val w = Window.partitionBy("event_type").orderBy(col("__c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = Tables.events(s, d)
        .select(col("event_type"), cents.as("__c"))
        .withColumn("__rn", count(lit(1)).over(w))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("event_type")))
      def vq(pct: Int) =
        min(when(col("__rn") * 100 >= lit(pct) * col("__n"), col("__c")))
          .as(s"v$pct")
      val exact = ranked.groupBy("event_type").agg(vq(50), vq(95), vq(99))
      sk.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n"),
          col("p50_cents"), col("v50"),
          (col("v50") < col("p50_cents") &&
            col("p50_cents") <= col("v50") + 100).as("p50_ok"),
          col("p95_cents"), col("v95"),
          (col("v95") < col("p95_cents") &&
            col("p95_cents") <= col("v95") + 100).as("p95_ok"),
          col("p99_cents"), col("v99"),
          (col("v99") < col("p99_cents") &&
            col("p99_cents") <= col("v99") + 100).as("p99_ok"))
    }),
      """WITH b AS (SELECT event_type,
        |    floor(value * 100 + 0.5::DOUBLE)::BIGINT AS c,
        |    least(floor(value * 100 + 0.5::DOUBLE)::BIGINT // 100, 1023) AS bin
        |  FROM events),
        |g AS (SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
        |wn AS (SELECT event_type, bin,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n FROM g),
        |sk AS (SELECT event_type, max(n)::BIGINT AS n,
        |    min(CASE WHEN cum * 100 >= 50 * n THEN (bin + 1) * 100 END)::BIGINT
        |      AS p50_cents,
        |    min(CASE WHEN cum * 100 >= 95 * n THEN (bin + 1) * 100 END)::BIGINT
        |      AS p95_cents,
        |    min(CASE WHEN cum * 100 >= 99 * n THEN (bin + 1) * 100 END)::BIGINT
        |      AS p99_cents
        |  FROM wn GROUP BY 1),
        |r AS (SELECT event_type, c,
        |    count(*) OVER (PARTITION BY event_type ORDER BY c
        |                   ROWS UNBOUNDED PRECEDING) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nn FROM b),
        |ex AS (SELECT event_type,
        |    min(CASE WHEN rn * 100 >= 50 * nn THEN c END) AS v50,
        |    min(CASE WHEN rn * 100 >= 95 * nn THEN c END) AS v95,
        |    min(CASE WHEN rn * 100 >= 99 * nn THEN c END) AS v99
        |  FROM r GROUP BY 1)
        |SELECT sk.event_type, sk.n,
        |  p50_cents, v50,
        |  (v50 < p50_cents AND p50_cents <= v50 + 100) AS p50_ok,
        |  p95_cents, v95,
        |  (v95 < p95_cents AND p95_cents <= v95 + 100) AS p95_ok,
        |  p99_cents, v99,
        |  (v99 < p99_cents AND p99_cents <= v99 + 100) AS p99_ok
        |FROM sk JOIN ex USING (event_type)""".stripMargin),

    // --- cumulative reach curve ---------------------------------------------------
    QuerySpec("q171_reach", ((s, d) =>
      Timeseries.reachCurve(Tables.events(s, d), "user_id", "ts")),
      """WITH days AS (SELECT DISTINCT ts::DATE AS day FROM events),
        |fd AS (SELECT user_id, min(ts::DATE) AS day FROM events GROUP BY 1),
        |npd AS (SELECT day, count(*) AS n_new FROM fd GROUP BY 1)
        |SELECT d.day, coalesce(npd.n_new, 0)::BIGINT AS n_new,
        |  sum(coalesce(npd.n_new, 0)) OVER (ORDER BY d.day
        |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_users
        |FROM days d LEFT JOIN npd USING (day)""".stripMargin),

    // --- weekly growth accounting -------------------------------------------------
    // new / retained / resurrected decomposition of weekly actives +
    // the churn identity (actives(w−1) − retained(w)).
    QuerySpec("q172_growth", ((s, d) =>
      Timeseries.growthAccounting(Tables.events(s, d), "user_id", "ts")),
      """WITH uw AS (SELECT DISTINCT user_id AS k,
        |    date_trunc('week', ts)::DATE AS week FROM events),
        |lg AS (SELECT week,
        |    lag(week) OVER (PARTITION BY k ORDER BY week) AS prev FROM uw),
        |st AS (SELECT week, CASE WHEN prev IS NULL THEN 'new'
        |    WHEN date_diff('day', prev, week) = 7 THEN 'retained'
        |    ELSE 'resurrected' END AS s FROM lg),
        |wk AS (SELECT week, count(*) AS n_active,
        |    count(CASE WHEN s = 'new' THEN 1 END) AS n_new,
        |    count(CASE WHEN s = 'retained' THEN 1 END) AS n_retained,
        |    count(CASE WHEN s = 'resurrected' THEN 1 END) AS n_resurrected
        |  FROM st GROUP BY 1),
        |pa AS (SELECT week + 7 AS week, n_active AS prev_active FROM wk)
        |SELECT wk.week, wk.n_active, wk.n_new, wk.n_retained,
        |  wk.n_resurrected,
        |  (coalesce(pa.prev_active, 0) - wk.n_retained)::BIGINT AS n_churned
        |FROM wk LEFT JOIN pa USING (week)""".stripMargin),

    // --- grouped HLL rollup (distinct users per event type via per-day state) -----
    // Registers materialize per (type, day) and roll up by max — the
    // any-period count-distinct a lake answers from state alone. The
    // in-plan contract checks the estimate against exact within 5%.
    QuerySpec("q173_hll_grouped", ((s, d) => {
      val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val est = Sketch.hllDistinctBy(ev, Seq("event_type"), "day", "user_id")
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_distinct"))
      est.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_buckets"), col("z_scaled"),
          col("est_distinct"), col("exact_distinct"),
          (abs(col("est_distinct") - col("exact_distinct").cast("double")) <=
            lit(0.05) * col("exact_distinct").cast("double")).as("err_ok"))
    }),
      // register max telescopes, so the per-day rollup the Spark side
      // materializes is bit-identical to sketching each type directly —
      // which is what this replay does (and what MAKES it a correct
      // oracle for the rolled-up state).
      """WITH h AS (SELECT event_type,
        |    CAST('0x' || substr(md5('hll:' || user_id::VARCHAR), 1, 15)
        |      AS BIGINT) AS h FROM events),
        |b AS (SELECT event_type, h & 4095 AS bucket, h >> 12 AS r FROM h),
        |regs AS (SELECT event_type, bucket,
        |    max(CASE WHEN r = 0 THEN 49
        |             ELSE bit_count(((r & -r) - 1)::BIGINT) + 1 END) AS reg
        |  FROM b GROUP BY 1, 2),
        |e AS (SELECT event_type, count(*)::BIGINT AS n_buckets,
        |    (sum(1::BIGINT << (49 - reg))
        |      + (4096 - count(*)) * (1::BIGINT << 49))::BIGINT AS z_scaled
        |  FROM regs GROUP BY 1),
        |est AS (SELECT event_type, n_buckets, z_scaled,
        |    (0.7213 / (1.0 + 1.079 / 4096.0)) * 16777216.0 * 562949953421312.0
        |      / z_scaled::DOUBLE AS raw,
        |    (4096 - n_buckets)::BIGINT AS v FROM e),
        |fin AS (SELECT event_type, n_buckets, z_scaled,
        |    round(CASE WHEN raw <= 10240.0 AND v > 0
        |               THEN 4096.0 * ln(4096.0 / v::DOUBLE) ELSE raw END, 4)
        |      AS est_distinct FROM est),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        |  FROM events GROUP BY 1)
        |SELECT f.event_type, f.n_buckets, f.z_scaled, f.est_distinct,
        |  ex.exact_distinct,
        |  (abs(f.est_distinct - ex.exact_distinct::DOUBLE)
        |    <= 0.05 * ex.exact_distinct::DOUBLE) AS err_ok
        |FROM fin f JOIN ex USING (event_type)""".stripMargin),

    // --- cohort LTV triangle -----------------------------------------------------
    // Cumulative revenue by (first-order-month cohort, months since) —
    // the payback-period matrix. Integer cents throughout; the cum
    // window sorts the months² grid, not orders.
    QuerySpec("q175_ltv_triangle", ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"),
        to_date(col("o_orderdate")).as("oday"),
        floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long")
          .as("cents"))
      Timeseries.ltvTriangle(o, "o_custkey", "oday", "cents")
    }),
      """WITH o AS (SELECT o_custkey AS ck,
        |    date_trunc('month', o_orderdate::DATE) AS m,
        |    floor(o_totalprice * 100 + 0.5::DOUBLE)::BIGINT AS v
        |  FROM orders),
        |c AS (SELECT ck, m, v, min(m) OVER (PARTITION BY ck) AS m0 FROM o),
        |t AS (SELECT m0,
        |    (date_part('year', m) - date_part('year', m0)) * 12
        |      + (date_part('month', m) - date_part('month', m0)) AS age,
        |    count(*)::BIGINT AS n_orders,
        |    count(DISTINCT ck)::BIGINT AS n_active,
        |    sum(v)::BIGINT AS cents
        |  FROM c GROUP BY 1, 2)
        |SELECT m0::VARCHAR AS cohort_month, age, n_orders, n_active, cents,
        |  (sum(cents) OVER (PARTITION BY m0 ORDER BY age
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |    AS cum_cents
        |FROM t""".stripMargin),

    // --- customer-lifetime Kaplan–Meier ------------------------------------------
    // Survivor curve over customer lifetimes (first→last order, days);
    // a customer whose last order is within 90 days of the corpus edge
    // is censored, not churned. Product-limit estimate via the
    // snapped-ln integer fold — the windows sort the distinct-duration
    // frame only.
    QuerySpec("q177_survival", ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"),
        to_date(col("o_orderdate")).as("oday"))
      val life = o.groupBy(col("o_custkey"))
        .agg(min(col("oday")).as("f"), max(col("oday")).as("l"))
      val mx = o.agg(max(col("oday")).as("mxd"))
      val durations = life.crossJoin(broadcast(mx))
        .select(datediff(col("l"), col("f")).as("t"),
          when(col("l") <= date_sub(col("mxd"), 90), lit(1L))
            .otherwise(lit(0L)).as("ev"))
      Timeseries.kmSurvival(durations, "t", "ev")
    }),
      // product-limit survival via the snapped-ln integer fold (the
      // sliceEntropy pattern): per-row ln floored to a 1e-6 grid, then a
      // pure-BIGINT ordered cumulative sum
      """WITH d AS (SELECT o_custkey, min(o_orderdate::DATE) AS f,
        |    max(o_orderdate::DATE) AS l
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT max(o_orderdate::DATE) AS mxd FROM orders),
        |u AS (SELECT (l - f) AS t,
        |    CASE WHEN l <= mxd - 90 THEN 1 ELSE 0 END AS ev FROM d, mx),
        |g AS (SELECT t, sum(ev)::BIGINT AS d_ev, count(*)::BIGINT AS c
        |  FROM u GROUP BY 1),
        |r AS (SELECT t, d_ev, c,
        |    (sum(c) OVER ()
        |      - coalesce(sum(c) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    )::BIGINT AS n_risk
        |  FROM g),
        |s AS (SELECT t, n_risk, d_ev, c,
        |    CASE WHEN d_ev = 0 OR d_ev >= n_risk THEN 0
        |         ELSE floor(ln((n_risk - d_ev)::DOUBLE / n_risk::DOUBLE)
        |                * 1e6 + 0.5)::BIGINT END AS term
        |  FROM r),
        |f AS (SELECT t, n_risk, d_ev, c,
        |    sum(term) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s)
        |SELECT t, n_risk, d_ev AS n_events, (c - d_ev)::BIGINT AS n_censored,
        |  CASE WHEN d_ev >= n_risk THEN 0.0
        |       ELSE round(exp(cum::DOUBLE / 1e6), 6) END AS survival
        |FROM f""".stripMargin),

    // --- inter-arrival burstiness per event type ---------------------------------
    // Goh–Barabási B = (σ−μ)/(σ+μ) over the gaps between consecutive
    // events of a type — n²σ² = nΣd²−(Σd)² folds exact in DECIMAL, and
    // IEEE sqrt is correctly rounded, so the statistic replays
    // bit-for-bit in any engine.
    QuerySpec("q180_burstiness", ((s, d) =>
      Timeseries.burstiness(Tables.events(s, d), "event_type", "ts",
        "event_id")),
      // ties ordered by (epoch_us(ts), event_id) to match Spark's
      // micros-truncated reader (q57 precedent)
      """WITH g AS (SELECT event_type, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |      PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS d
        |  FROM events),
        |a AS (SELECT event_type, count(*)::BIGINT AS n_gaps,
        |    sum(d::HUGEINT) AS s, sum(d::HUGEINT * d::HUGEINT) AS q
        |  FROM g WHERE d IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_gaps, s::BIGINT AS sum_micros,
        |  round((sqrt((n_gaps::HUGEINT * q - s * s)::DOUBLE) - s::DOUBLE)
        |    / (sqrt((n_gaps::HUGEINT * q - s * s)::DOUBLE) + s::DOUBLE), 6)
        |    AS burstiness,
        |  round(sqrt((n_gaps::HUGEINT * q - s * s)::DOUBLE) / s::DOUBLE, 6)
        |    AS cv
        |FROM a""".stripMargin),

    // --- lead–lag cross-correlation ----------------------------------------------
    // By how many days do views lead purchases? corr(views(t),
    // purchases(t+lag)) for lag ∈ [−7, 7] — exact moments per lag over
    // the calendar-bounded daily frame.
    QuerySpec("q182_lag_corr", ((s, d) => {
      val daily = Tables.events(s, d)
        .where(col("event_type").isin("view", "purchase"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(when(col("event_type") === "view", 1)).as("a"),
          count(when(col("event_type") === "purchase", 1)).as("b"))
      Timeseries.lagCorrelation(daily, "day", "a", "b", 7)
    }),
      """WITH daily AS (SELECT ts::DATE AS day,
        |    count(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT AS a,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT
        |      AS b
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |l AS (SELECT range::INT AS lag FROM range(-7, 8)),
        |j AS (SELECT l.lag, x.a AS xa, y.b AS yb
        |  FROM daily x CROSS JOIN l JOIN daily y ON x.day + l.lag = y.day),
        |g AS (SELECT lag, count(*)::BIGINT AS n_days,
        |    sum(xa::HUGEINT) AS sa, sum(yb::HUGEINT) AS sb,
        |    sum(xa::HUGEINT * yb::HUGEINT) AS sab,
        |    sum(xa::HUGEINT * xa::HUGEINT) AS saa,
        |    sum(yb::HUGEINT * yb::HUGEINT) AS sbb
        |  FROM j GROUP BY 1)
        |SELECT lag, n_days,
        |  round((n_days::HUGEINT * sab - sa * sb)::DOUBLE
        |    / (sqrt((n_days::HUGEINT * saa - sa * sa)::DOUBLE)
        |      * sqrt((n_days::HUGEINT * sbb - sb * sb)::DOUBLE)), 6)
        |    AS corr
        |FROM g""".stripMargin),

    // --- KMV set-operation sketch: distinct-INTERSECTION estimates ---------------
    // "How many user-days did both event types" from per-type KMV
    // states alone — the set operation HLL registers cannot answer.
    // Estimates gated against the exact intersections with a 25% error
    // contract (k=1024 → Jaccard rel std ≈ 6%, ≈3.5σ headroom).
    QuerySpec("q185_kmv_intersect", ((s, d) => {
      // NULL components are excluded identically on both engines: the
      // oracle's || would propagate NULL through the hash while
      // concat_ws would silently drop the field — filter, don't coalesce
      val ev = Tables.events(s, d)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_type").as("key"),
          concat_ws(":", col("user_id"), to_date(col("ts"))).as("val"))
      val st = Sketch.kmvSketch(ev, "key", "val")
      val est = Sketch.kmvIntersect(st)
      val vd = ev.distinct()
      val exact = vd.as("x").join(vd.as("y"),
          col("x.val") === col("y.val") && col("x.key") < col("y.key"))
        .groupBy(col("x.key").as("ka"), col("y.key").as("kb"))
        .agg(count(lit(1)).as("exact_intersect"))
      est.join(exact, Seq("ka", "kb"))
        .select(col("ka"), col("kb"), col("n_union_minima"), col("n_both"),
          col("est_union"), col("est_intersect"), col("exact_intersect"),
          (abs(col("est_intersect") - col("exact_intersect").cast("double"))
            <= lit(0.25) * col("exact_intersect").cast("double"))
            .as("err_ok"))
    }),
      // full KMV replay: per-type bottom-k (k = Sketch.KmvK = 1024) of
      // the kmv: hash space,
      // pair union minima (set-dedup on h), Jaccard numerator, and the
      // (k-1)*2^60/h_k union estimate — plus the exact intersections
      """WITH ev AS (SELECT DISTINCT event_type AS key,
        |    user_id::VARCHAR || ':' || (ts::DATE)::VARCHAR AS val
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |v AS (SELECT key,
        |    CAST('0x' || substr(md5('kmv:' || val), 1, 15) AS BIGINT) AS h
        |  FROM ev),
        |st AS (SELECT key, h FROM (SELECT key, h,
        |      row_number() OVER (PARTITION BY key ORDER BY h) AS rk
        |    FROM (SELECT DISTINCT key, h FROM v) dv) t WHERE rk <= 1024),
        |keys AS (SELECT DISTINCT key FROM st),
        |pk AS (SELECT a.key AS ka, b.key AS kb FROM keys a, keys b
        |  WHERE a.key < b.key),
        |u AS (SELECT ka, kb, h, max(ia)::BIGINT AS ia,
        |    max(ib)::BIGINT AS ib FROM (
        |    SELECT pk.ka, pk.kb, st.h, 1 AS ia, 0 AS ib FROM st
        |      JOIN pk ON st.key = pk.ka
        |    UNION ALL
        |    SELECT pk.ka, pk.kb, st.h, 0 AS ia, 1 AS ib FROM st
        |      JOIN pk ON st.key = pk.kb) t GROUP BY 1, 2, 3),
        |uk AS (SELECT * FROM (SELECT ka, kb, h, ia, ib,
        |      row_number() OVER (PARTITION BY ka, kb ORDER BY h) AS rk
        |    FROM u) t WHERE rk <= 1024),
        |ag AS (SELECT ka, kb, count(*)::BIGINT AS n_union_minima,
        |    max(h) AS hk, sum(ia * ib)::BIGINT AS n_both
        |  FROM uk GROUP BY 1, 2),
        |es AS (SELECT ka, kb, n_union_minima, n_both,
        |    CASE WHEN n_union_minima < 1024 THEN n_union_minima::DOUBLE
        |         ELSE 1023.0 * (1::BIGINT << 60)::DOUBLE / hk::DOUBLE
        |    END AS eu FROM ag),
        |ex AS (SELECT p.ka, p.kb, count(*)::BIGINT AS exact_intersect
        |  FROM pk p JOIN ev x ON x.key = p.ka
        |  JOIN ev y ON y.key = p.kb AND y.val = x.val GROUP BY 1, 2)
        |SELECT e.ka, e.kb, e.n_union_minima, e.n_both,
        |  round(e.eu, 4) AS est_union,
        |  round(e.n_both::DOUBLE / e.n_union_minima::DOUBLE * e.eu, 4)
        |    AS est_intersect,
        |  ex.exact_intersect,
        |  (abs(round(e.n_both::DOUBLE / e.n_union_minima::DOUBLE * e.eu, 4)
        |      - ex.exact_intersect::DOUBLE)
        |    <= 0.25 * ex.exact_intersect::DOUBLE) AS err_ok
        |FROM es e JOIN ex ON e.ka = ex.ka AND e.kb = ex.kb""".stripMargin,
      heavy = true),

    // --- RFM segmentation (recency / frequency / monetary quintiles) -------------
    // The CRM customer-value partition: per customer days-since-last-
    // order / order count / lifetime cents, ntile(5) scores over total
    // orders (value, then customer — both engines bucket identically),
    // fixed anchor date.
    QuerySpec("q192_rfm", ((s, d) =>
      Timeseries.rfm(
        Tables.orders(s, d).select(col("o_custkey"), col("o_orderdate"),
          floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long")
            .as("cents")),
        "o_custkey", "o_orderdate", "cents", "1998-08-02")),
      """WITH per AS (SELECT o_custkey AS customer,
        |    date_diff('day', max(o_orderdate), DATE '1998-08-02')::BIGINT AS recency_days,
        |    count(*)::BIGINT AS frequency,
        |    sum(floor(o_totalprice * 100 + 0.5::DOUBLE)::BIGINT)::BIGINT AS monetary_cents
        |  FROM orders GROUP BY 1),
        |s AS (SELECT customer, recency_days, frequency, monetary_cents,
        |    ntile(5) OVER (ORDER BY recency_days DESC, customer)::BIGINT AS r_score,
        |    ntile(5) OVER (ORDER BY frequency ASC, customer)::BIGINT AS f_score,
        |    ntile(5) OVER (ORDER BY monetary_cents ASC, customer)::BIGINT AS m_score
        |  FROM per)
        |SELECT customer, recency_days, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
        |       WHEN r_score >= 4 THEN 'recent'
        |       WHEN f_score >= 4 THEN 'loyal_lapsing'
        |       WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
        |       ELSE 'regular' END AS segment
        |FROM s""".stripMargin),
  )
}
