"""Event-time queries over the ``events`` table: tumbling / sliding /
session windows, the reference's 20-second rate ticks (M3,
reference: src/service.py:174-253), and the as-of join.

These run identically in batch (here, oracle-checked) and on a streaming
DataFrame (streaming/pipeline.py reuses the same window expressions with a
watermark) — the idiomatic Structured Streaming design where one transform
serves both modes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..registry import REGISTRY, pin, register, table
from ..partitioning import spread
from ..operators import similarity as sim
from ..operators.relational import asof_join, dsum, dsum_sql

from .relational import HLL_LG_K


@register(
    "events_tumbling_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events, {dsum_sql('value', 'DECIMAL(18,2)')} AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("window-tumbling", "streaming-twin"),
)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window. In streaming mode the same expression
    runs with ``withWatermark`` bounding state; window state is partitioned
    by (window, event_type) so it scales horizontally."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             dsum("value", "decimal(18,2)").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
        .orderBy("window_start", "event_type")
    )


@register(
    "events_sliding_windows",
    oracle="""
    WITH b AS (
        SELECT *,
               date_trunc('hour', ts)
                 + CASE WHEN extract(minute FROM ts) >= 30
                        THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
                 AS slide0
        FROM events),
    exploded AS (
        SELECT unnest([slide0, slide0 - INTERVAL 30 MINUTE]) AS window_start,
               event_type
        FROM b)
    SELECT window_start, count(*) AS n_events
    FROM exploded GROUP BY 1 ORDER BY 1
    """,
    tags=("window-sliding", "streaming-twin"),
)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide): each event lands in 2
    windows. Spark expands rows by length/slide before the agg — shuffle
    volume scales with the overlap factor, which is why the slide should
    never be tiny relative to the length at 100 TB."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
        .orderBy("window_start")
    )


@register(
    "events_session_windows",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 10 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events),
    numbered AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM flagged)
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 10 MINUTE AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    tags=("window-session", "streaming-twin"),
)
def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (10 min gap) per user. The oracle reproduces Spark's
    merge semantics via gaps-and-islands: a session extends while the next
    event starts strictly inside [last_ts, last_ts + gap)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
        .orderBy("user_id", "session_start")
    )


@register(
    "rate_ticks_20s",
    oracle="""
    WITH ticks AS (
        SELECT date_trunc('minute', ts)
                 + (CAST(extract(second FROM ts) AS INT) // 20) * INTERVAL 20 SECOND
                 AS tick_start,
               count(*) AS n_processed
        FROM events GROUP BY 1)
    SELECT tick_start, n_processed,
           round(n_processed / 20.0, 6) AS rate_per_s,
           n_processed - lag(n_processed) OVER (ORDER BY tick_start) AS delta_vs_prev
    FROM ticks ORDER BY tick_start
    """,
    tags=("M3", "rate-agg"),
)
def q_rate_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 20-second stats tick (processed/s + delta vs previous
    tick, reference: src/service.py:174-253) as an event-time tumbling
    window — in streaming this is exactly `inputRowsPerSecond` from the
    StreamingQueryListener, exposed here as a queryable aggregate."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window
    w = Window.orderBy("tick_start")
    ticks = (
        ev.groupBy(F.window("ts", "20 seconds").alias("w"))
        .agg(F.count("*").alias("n_processed"))
        .select(F.col("w.start").alias("tick_start"), "n_processed")
    )
    return (
        ticks.select(
            "tick_start", "n_processed",
            F.round(F.col("n_processed") / 20.0, 6).alias("rate_per_s"),
            (F.col("n_processed") - F.lag("n_processed").over(w)).alias("delta_vs_prev"),
        )
        .orderBy("tick_start")
    )


@register(
    "asof_join_latest_order",
    oracle="""
    SELECT event_id, user_id, o_orderkey AS asof_orderkey,
           o_totalprice AS asof_totalprice
    FROM events LEFT JOIN orders
      ON o_custkey = user_id AND o_orderdate <= ts
    QUALIFY row_number() OVER (PARTITION BY event_id
                               ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    ORDER BY event_id
    """,
    tags=("join", "asof"),
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each event picks the most recent order of the
    matching customer (operators/relational.py asof_join: equi+range join
    then per-left-row row_number)."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    out = asof_join(
        ev, o, on=["user_id"], left_time="ts", right_time="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"], tie_breaker="o_orderkey",
    )
    return (
        out.select(
            "event_id", "user_id",
            F.col("o_orderkey").alias("asof_orderkey"),
            F.col("o_totalprice").alias("asof_totalprice"),
        )
        .orderBy("event_id")
    )


@register(
    "asof_join_next_order",
    oracle="""
    SELECT event_id, user_id, o_orderkey AS next_orderkey,
           o_totalprice AS next_totalprice
    FROM events LEFT JOIN orders
      ON o_custkey = user_id AND o_orderdate >= ts
    QUALIFY row_number() OVER (PARTITION BY event_id
                               ORDER BY o_orderdate ASC, o_orderkey DESC) = 1
    ORDER BY event_id
    """,
    tags=("join", "asof", "forward"),
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each event picks the matching customer's next
    order at-or-after the event — the attribution-style lookup (what did
    this click lead to). Same equi+range join plus per-left-row
    row_number shape as the backward variant; only the range direction
    and pick order flip (operators/relational.py asof_join
    direction='forward'; 'nearest' with a mandatory tolerance band is
    the third variant, exercised in tests)."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    out = asof_join(
        ev, o, on=["user_id"], left_time="ts", right_time="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"], tie_breaker="o_orderkey",
        direction="forward",
    )
    return (
        out.select(
            "event_id", "user_id",
            F.col("o_orderkey").alias("next_orderkey"),
            F.col("o_totalprice").alias("next_totalprice"),
        )
        .orderBy("event_id")
    )


@register(
    "events_funnel",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
    SELECT stage, n_users FROM (
        SELECT 'x1_view' AS stage, count(*) AS n_users FROM v
        UNION ALL SELECT 'x2_click', count(*) FROM c
        UNION ALL SELECT 'x3_purchase', count(*) FROM p)
    ORDER BY stage
    """,
    tags=("events", "funnel"),
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: a user counts for a stage only if the
    event happens strictly AFTER their first event of the previous stage
    (first view -> first subsequent click -> first subsequent purchase).
    Every shuffle is on user_id (stage filters cut rows before each join),
    so the funnel scales with active users, not event volume."""
    e = table(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (e.filter(F.col("event_type") == "click").join(v, "user_id")
         .filter(F.col("ts") > F.col("t_view"))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (e.filter(F.col("event_type") == "purchase").join(c, "user_id")
         .filter(F.col("ts") > F.col("t_click"))
         .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    counts = (
        v.agg(F.count("*").alias("n_users")).select(F.lit("x1_view").alias("stage"), "n_users")
        .unionAll(c.agg(F.count("*").alias("n_users"))
                  .select(F.lit("x2_click").alias("stage"), "n_users"))
        .unionAll(p.agg(F.count("*").alias("n_users"))
                  .select(F.lit("x3_purchase").alias("stage"), "n_users"))
    )
    return counts.orderBy("stage")


@register(
    "events_retention_cohorts",
    oracle="""
    WITH cohort AS (
        SELECT user_id, date_trunc('week', min(ts)) AS w0
        FROM events WHERE event_type = 'signup' GROUP BY 1),
    activity AS (
        SELECT DISTINCT c.w0, e.user_id,
               CAST(floor(date_diff('day', CAST(c.w0 AS DATE),
                          CAST(date_trunc('week', e.ts) AS DATE)) / 7.0) AS INT)
                 AS weeks_since
        FROM events e JOIN cohort c ON c.user_id = e.user_id
        WHERE e.ts >= c.w0)
    SELECT CAST(w0 AS DATE) AS cohort_week, weeks_since,
           count(*) AS n_active_users
    FROM activity GROUP BY 1, 2 ORDER BY cohort_week, weeks_since
    """,
    tags=("events", "retention"),
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by signup week, counted
    once per (cohort, weeks-since-signup) they were active in. Shuffles on
    user_id (cohort join + the distinct), then on the small cohort grid —
    the cohort matrix stays tiny no matter the event volume."""
    e = table(spark, sf_dir, "events")
    cohort = (e.filter(F.col("event_type") == "signup")
              .groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).alias("w0")))
    activity = (
        e.join(cohort, "user_id")
        .filter(F.col("ts") >= F.col("w0"))
        .select(
            "w0", "user_id",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")).cast("date"),
                           F.col("w0").cast("date")) / 7.0
            ).cast("int").alias("weeks_since"),
        )
        .distinct()
    )
    return (
        activity.groupBy(F.col("w0").cast("date").alias("cohort_week"),
                         "weeks_since")
        .agg(F.count("*").alias("n_active_users"))
        .orderBy("cohort_week", "weeks_since")
    )


@register(
    "events_gap_fill",
    oracle="""
    WITH ev AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
    b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
    grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
             FROM b),
    t AS (SELECT DISTINCT event_type FROM ev),
    c AS (SELECT event_type, h, count(*) AS n FROM ev GROUP BY 1, 2)
    SELECT t.event_type, grid.h AS hour_ts,
           COALESCE(c.n, 0) AS n_events
    FROM t CROSS JOIN grid
    LEFT JOIN c ON c.event_type = t.event_type AND c.h = grid.h
    ORDER BY 1, 2
    """,
    tags=("time-series", "gap-fill"),
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense (event_type x hour) grid over the
    corpus's hour span, zero-filled where no events occurred — the
    densification step dashboards and forecasting features need before
    window arithmetic (a lag() over a gappy series silently skips the
    empty hours).

    Scale shape: the grid is generated from ONE aggregated row
    (min/max hour -> sequence() -> explode), so its size is
    hours x types regardless of corpus size — it broadcasts to the
    hourly-count join, and the only full-corpus shuffle is the
    partial+final hourly count itself. No events row is ever exploded."""
    ev = table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type")
    counts = ev.groupBy("event_type", "h").agg(F.count("*").alias("n"))
    grid = (
        ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(F.explode(F.sequence(
            F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))).alias("h"))
    )
    types = ev.select("event_type").distinct()
    dense = types.crossJoin(F.broadcast(grid))
    return (
        dense.join(counts, ["event_type", "h"], "left_outer")
        .select("event_type", F.col("h").alias("hour_ts"),
                F.coalesce(F.col("n"), F.lit(0)).alias("n_events"))
        .orderBy("event_type", "hour_ts")
    )


# --------------------------------------------- robust outliers (median/MAD)

# Outlier cut: |value - median| > 4 * MAD. The multiplier is an integer on
# purpose — 4.0 is exact in both engines, sidestepping the decimal-literal
# parse hazard (see similarity.dot_weights_sql) a 1.4826-style consistency
# constant would reintroduce; for a fixed cut the constant choice is
# presentation, not semantics.
_MAD_K = 4


@register(
    "events_outliers_mad",
    oracle=f"""
    WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                 FROM events GROUP BY 1),
    a AS (SELECT e.event_type, e.value, m.med,
                 abs(e.value - m.med) AS adev
          FROM events e JOIN med m USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM a GROUP BY 1)
    SELECT a.event_type, count(*) AS n_events,
           {sim.round6_stable_sql('min(a.med)')} AS med_value,
           {sim.round6_stable_sql('min(m.mad)')} AS mad_value,
           count(*) FILTER (WHERE a.adev > {_MAD_K} * m.mad) AS n_outliers,
           {sim.round6_stable_sql(
               'count(*) FILTER (WHERE a.adev > ' + str(_MAD_K)
               + ' * m.mad) / CAST(count(*) AS DOUBLE)')} AS outlier_rate
    FROM a JOIN mad m USING (event_type)
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "events", "robust-outliers"),
)
def q_events_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust outlier detection: median + MAD (median absolute
    deviation), the breakdown-resistant alternative to mean/stddev z-scores
    — the standard guardrail query over metric streams feeding a training
    pipeline (a few corrupt values can't drag the cut the way they drag a
    stddev).

    Plan: two grouped exact-percentile aggregates (median, then MAD of the
    deviations) with the tiny per-type results broadcast back between
    passes — the fact table shuffles on event_type twice and is never
    joined to itself. At 100 TB both medians become percentile_approx with
    the identical two-pass shape. The outlier comparison uses the
    UNROUNDED median/MAD (identical doubles in both engines); rounding is
    applied only to the emitted columns."""
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med"))
    a = (e.join(F.broadcast(med), "event_type")
         .select("event_type", "value", "med",
                 F.abs(F.col("value") - F.col("med")).alias("adev")))
    mad = a.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad"))
    out_cnt = F.count(F.when(F.col("adev") > _MAD_K * F.col("mad"), 1))
    return (
        a.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             sim.round6_stable(F.min("med")).alias("med_value"),
             sim.round6_stable(F.min("mad")).alias("mad_value"),
             out_cnt.alias("n_outliers"),
             sim.round6_stable(
                 out_cnt / F.count("*").cast("double")).alias("outlier_rate"))
        .orderBy("event_type")
    )


# ------------------------------------------------- EWMA over hourly rates

# Decay 0.5 on integer counts keeps every intermediate a dyadic rational:
# the fold arithmetic is EXACT in double precision, so the only rounding
# is the final 6-dp emit. y_0 = x_0, y_t = 0.5*x_t + 0.5*y_{t-1}, folded
# in ascending hour order on both sides.


@register(
    "events_rate_ewma",
    oracle=f"""
    WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                      count(*) AS cnt
               FROM events GROUP BY 1, 2),
    srt AS (SELECT event_type,
                   list_transform(list(cnt ORDER BY hr),
                                  c -> CAST(c AS DOUBLE)) AS cnts,
                   count(*) AS n_hours, max(cnt) AS max_hourly
            FROM h GROUP BY 1)
    SELECT event_type, n_hours, max_hourly,
           {sim.round6_stable_sql(
               'list_reduce(cnts, (acc, x) -> 0.5 * x + 0.5 * acc)')}
             AS ewma_rate
    FROM srt ORDER BY event_type
    """,
    tags=("llm", "events", "ewma"),
)
def q_events_rate_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of hourly event rates per
    type — the smoothing behind "is this feed's rate drifting" monitors.
    Implemented as an ORDERED FOLD over each type's hour-sorted count
    series (Spark sort_array + aggregate; DuckDB list(... ORDER BY) +
    list_reduce): streaming-style recurrences are expressible in batch
    Spark without a UDF when the per-key series is bounded (here: hours
    per type — 8.8k/year — comfortably an array; for unbounded keys this
    becomes applyInPandasWithState, streaming/stateful.py).

    Shuffles: one partial+final count on (type, hour), one (type) fold on
    the tiny hourly grid. Decay 0.5 makes the fold exact (see module
    note), so the distributed result is value-checked, not
    approximately-checked."""
    e = table(spark, sf_dir, "events")
    h = (e.groupBy("event_type",
                   F.date_trunc("hour", F.col("ts")).alias("hr"))
         .agg(F.count("*").alias("cnt")))
    srt = h.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("hr", "cnt"))),
            lambda x: x["cnt"].cast("double")).alias("cnts"),
        F.count("*").alias("n_hours"),
        F.max("cnt").alias("max_hourly"))
    ewma = F.aggregate(
        F.slice(F.col("cnts"), 2, F.greatest(F.size("cnts") - 1, F.lit(0))),
        F.element_at(F.col("cnts"), 1),
        lambda acc, x: F.lit(0.5) * x + F.lit(0.5) * acc)
    return (
        srt.select("event_type", "n_hours", "max_hourly",
                   sim.round6_stable(ewma).alias("ewma_rate"))
        .orderBy("event_type")
    )


# ------------------------------------------ hourly rate anomaly z-score


@register(
    "events_hourly_zscore",
    oracle=f"""
    WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                      count(*) AS n
               FROM events GROUP BY 1, 2),
    st AS (SELECT event_type, count(*) AS n_hours,
                  CAST(sum(n) AS BIGINT) AS s,
                  CAST(sum(n * n) AS BIGINT) AS ss
           FROM h GROUP BY 1)
    SELECT h.event_type, h.hour, h.n,
           {sim.round6_stable_sql(
               'CASE WHEN st.n_hours > 1 AND'
               ' (st.ss - (CAST(st.s AS DOUBLE) * st.s) / st.n_hours)'
               ' > 0 THEN'
               ' (h.n - CAST(st.s AS DOUBLE) / st.n_hours)'
               ' / sqrt((st.ss - (CAST(st.s AS DOUBLE) * st.s)'
               ' / st.n_hours) / st.n_hours)'
               ' ELSE 0.0 END')} AS z6
    FROM h JOIN st USING (event_type)
    ORDER BY event_type, hour
    """,
    tags=("events", "anomaly"),
)
def q_events_hourly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate z-scores per event type — the anomaly signal a
    pipeline-health dashboard alerts on (a traffic spike or a dead feed
    shows up as |z| >> 0 hours; the MAD variant in events_outliers_mad
    is the value-level robust cousin). Hourly counts and the per-type
    moment sums (n, sum, sum of squares) are exact integers, so the only
    floats are one division chain and a sqrt — IEEE-deterministic both
    engines, stable-rounded. Observed hours only (the dense-grid version
    is events_gap_fill's job). Shuffles: (type, hour) partial counts,
    then a per-type 3-number reduce broadcast back onto the hour rows."""
    e = table(spark, sf_dir, "events")
    h = (e.groupBy("event_type",
                   F.date_trunc("hour", F.col("ts")).alias("hour"))
         .agg(F.count("*").alias("n")))
    h = pin(h)
    st = h.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("ss"))
    var_num = (F.col("ss")
               - (F.col("s").cast("double") * F.col("s")) / F.col("n_hours"))
    z = ((F.col("n") - F.col("s").cast("double") / F.col("n_hours"))
         / F.sqrt(var_num / F.col("n_hours")))
    return (
        h.join(F.broadcast(st), "event_type")
        .select("event_type", "hour", "n",
                sim.round6_stable(
                    F.when((F.col("n_hours") > 1) & (var_num > 0), z)
                    .otherwise(F.lit(0.0))).alias("z6"))
        .orderBy("event_type", "hour")
    )


# ---------------------------------------- lag-gap sessionization (batch)

SESSION_GAP_S = 1800  # 30 min inactivity closes a session


@register(
    "events_sessions_lag_gap",
    oracle=f"""
    WITH o AS (SELECT user_id, ts,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts,
                                    event_id) AS prev_ts,
                      event_id
               FROM events),
    f AS (SELECT user_id, ts, event_id,
                 CASE WHEN prev_ts IS NULL
                        OR epoch(ts) - epoch(prev_ts) > {SESSION_GAP_S}
                      THEN 1 ELSE 0 END AS new_session
          FROM o),
    s AS (SELECT user_id, ts, event_id,
                 -- BIGINT cast: DuckDB's windowed sum over INT is HUGEINT,
                 -- which a pandas/arrow fetch materializes as float64 and a
                 -- dtype-faithful hasher then mismatches vs Spark's int64
                 CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY
                                             ts, event_id
                                             ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS session_id
          FROM f)
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM s GROUP BY 1, 2 ORDER BY user_id, session_id
    """,
    tags=("events", "sessionize-lag"),
)
def q_sessions_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag-gap detection — the window-function session
    builder (lag -> gap flag -> running sum = session id) that predates
    and complements the session_window builtin (events_session_windows):
    unlike the builtin it exposes the session ID on every event row, the
    handle downstream joins need. Per-user windows partition by user_id,
    so the sort is per-user-bounded; ties inside one timestamp break on
    event_id to keep the numbering deterministic. One shuffle on
    user_id; both window functions and the final aggregate reuse the
    same partitioning (Catalyst plans a single exchange)."""
    e = table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id", "ts", "event_id",
        F.when(
            F.lag("ts").over(w_ord).isNull()
            | ((F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w_ord)))
               > SESSION_GAP_S), 1).otherwise(0).alias("new_session"))
    w_run = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    s = flagged.withColumn("session_id",
                           F.sum("new_session").over(w_run))
    return (
        s.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
        .orderBy("user_id", "session_id")
    )


# ------------------------------------------ event-transition estimation


@register(
    "events_markov_transitions",
    oracle=f"""
    WITH o AS (SELECT user_id, event_type, ts, event_id,
                      lead(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                        AS next_type
               FROM events),
    tr AS (SELECT event_type AS from_type, next_type AS to_type,
                  count(*) AS n
           FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
            FROM tr GROUP BY 1)
    SELECT tr.from_type, tr.to_type, tr.n,
           {sim.round6_stable_sql('tr.n / CAST(tot.n_from AS DOUBLE)')}
             AS p6
    FROM tr JOIN tot USING (from_type)
    ORDER BY from_type, to_type
    """,
    tags=("events", "markov"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition estimation: per-user event streams
    (ordered by time, event_id tiebreak) yield from->to transition
    counts and maximum-likelihood probabilities — the Markov-chain view
    of user behavior that funnel analysis (events_funnel) is a special
    case of, and the generator for session simulation / anomaly
    baselines. One per-user window (same single user_id exchange shape
    as the sessionizers), then a transition-cardinality aggregate —
    |types|^2 rows regardless of corpus size."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select("event_type",
                 F.lead("event_type").over(w).alias("next_type"))
    tr = (o.filter(F.col("next_type").isNotNull())
          .groupBy(F.col("event_type").alias("from_type"),
                   F.col("next_type").alias("to_type"))
          .agg(F.count("*").alias("n")))
    tot = tr.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("n_from"))
    return (
        tr.join(F.broadcast(tot), "from_type")
        .select("from_type", "to_type", "n",
                sim.round6_stable(
                    F.col("n") / F.col("n_from").cast("double")).alias("p6"))
        .orderBy("from_type", "to_type")
    )


# ------------------------------------------------- DAU / WAU stickiness


@register(
    "events_dau_wau",
    oracle=f"""
    WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                      user_id
               FROM events),
    dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM d GROUP BY 1),
    wau AS (SELECT d1.day,
                   count(DISTINCT d2.user_id) AS wau
            FROM (SELECT DISTINCT day FROM d) d1
            JOIN d d2 ON d2.day > d1.day - 7 AND d2.day <= d1.day
            GROUP BY 1)
    SELECT dau.day, dau.dau, wau.wau,
           {sim.round6_stable_sql('dau.dau / CAST(wau.wau AS DOUBLE)')}
             AS stickiness6
    FROM dau JOIN wau USING (day) ORDER BY day
    """,
    tags=("events", "dau-wau"),
)
def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the canonical
    engagement rollup. The WAU side joins each observed day to the
    (day, user) pairs of its trailing week: a range join whose build
    side is the distinct-day list (tiny at any scale — days, not
    events), so it broadcasts; the heavy side is the deduplicated
    (day, user) relation, shuffled once. Exact distinct counts; the
    only float is the final ratio."""
    e = table(spark, sf_dir, "events")
    d = pin(e.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "user_id").distinct())
    dau = d.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    days = d.select("day").distinct().select(F.col("day").alias("ref_day"))
    wau = (d.join(F.broadcast(days),
                  (F.col("day") > F.date_sub(F.col("ref_day"), 7))
                  & (F.col("day") <= F.col("ref_day")))
           .groupBy("ref_day")
           .agg(F.countDistinct("user_id").alias("wau"))
           .withColumnRenamed("ref_day", "day"))
    return (
        dau.join(wau, "day")
        .select("day", "dau", "wau",
                sim.round6_stable(
                    F.col("dau") / F.col("wau").cast("double"))
                   .alias("stickiness6"))
        .orderBy("day")
    )


# --------------------------------------------- activity concentration


@register(
    "events_pareto_concentration",
    oracle=f"""
    WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
    b AS (SELECT quantile_cont(CAST(n AS DOUBLE), 0.9) AS p90 FROM u),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(n) AS BIGINT) AS n_events,
                   CAST(count(*) FILTER (WHERE u.n > b.p90) AS BIGINT)
                     AS top_users,
                   CAST(coalesce(sum(n) FILTER (WHERE u.n > b.p90), 0)
                        AS BIGINT) AS top_events
            FROM u CROSS JOIN b)
    SELECT n_users, n_events, top_users, top_events,
           {sim.round6_stable_sql(
               'top_events / CAST(n_events AS DOUBLE)')} AS top_share6
    FROM agg
    """,
    tags=("events", "pareto"),
)
def q_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration: what share of all events comes from the
    heavy-tail users above the per-user p90 activity level — the Pareto
    diagnostic that decides whether per-user skew handling (salting,
    AQE skew splits) is worth wiring into the event joins. Per-user
    counts are one exact aggregate; the p90 boundary is a 1-row
    broadcast; strictly-above comparison on interpolated-percentile
    doubles computed identically in both engines."""
    e = table(spark, sf_dir, "events")
    u = pin(e.groupBy("user_id").agg(F.count("*").alias("n")))
    b = u.agg(F.expr("percentile(CAST(n AS DOUBLE), 0.9D)").alias("p90"))
    above = F.when(F.col("n") > F.col("p90"), 1).otherwise(0)
    agg = (u.crossJoin(F.broadcast(b))
           .agg(F.count("*").cast("bigint").alias("n_users"),
                F.sum("n").cast("bigint").alias("n_events"),
                F.sum(above).cast("bigint").alias("top_users"),
                F.coalesce(F.sum(F.when(F.col("n") > F.col("p90"),
                                        F.col("n"))), F.lit(0))
                 .cast("bigint").alias("top_events")))
    return agg.select(
        "n_users", "n_events", "top_users", "top_events",
        sim.round6_stable(
            F.col("top_events") / F.col("n_events").cast("double"))
           .alias("top_share6"))


# ------------------------------------------------- funnel latency


@register(
    "events_time_to_convert",
    oracle=f"""
    WITH v AS (SELECT user_id, min(ts) AS first_view
               FROM events WHERE event_type = 'view' GROUP BY 1),
    p AS (SELECT v.user_id, v.first_view,
                 min(e.ts) AS first_purchase
          FROM v JOIN events e
            ON e.user_id = v.user_id AND e.event_type = 'purchase'
               AND e.ts >= v.first_view
          GROUP BY 1, 2),
    lat AS (SELECT CAST(epoch_us(first_purchase) - epoch_us(first_view)
                        AS DOUBLE) / 1000000.0 AS secs
            FROM p)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(secs, 0.5), 6) AS p50_secs,
           round(quantile_cont(secs, 0.9), 6) AS p90_secs
    FROM lat
    """,
    tags=("events", "funnel-latency"),
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per user, seconds from first view to the first
    purchase at-or-after it, summarized as conversion count + exact
    p50/p90 — the 'how long does the funnel take' companion to
    events_funnel's 'how many make it through'. The view side reduces
    to one row per user BEFORE the join; the purchase side joins its
    (already type-filtered, small) event slice on user_id and reduces
    to the first at-or-after purchase — the conditional min can't be
    pre-aggregated, but the join key is the user and only purchase
    events flow through it. Latencies are exact integer MICROSECOND
    differences (the testdata carries sub-second timestamps; whole-second
    epoch() would truncate differently per engine) divided once into
    double seconds, so the interpolated percentiles match bit-for-bit."""
    e = table(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("first_view")))
    pur = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"))
    p = (v.join(pur, "user_id")
         .filter(F.col("pts") >= F.col("first_view"))
         .groupBy("user_id", "first_view")
         .agg(F.min("pts").alias("first_purchase")))
    lat = p.select(
        ((F.unix_micros("first_purchase")
          - F.unix_micros("first_view")).cast("double")
         / F.lit(1000000.0)).alias("secs"))
    return lat.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.expr("round(percentile(secs, 0.5D), 6)").alias("p50_secs"),
        F.expr("round(percentile(secs, 0.9D), 6)").alias("p90_secs"))


# -------------------------------------------- session path mining

PATH_LEN = 4     # leading event types per session
PATH_TOP = 20    # report head


@register(
    "events_session_paths",
    oracle=f"""
    WITH o AS (SELECT user_id, ts, event_id, event_type,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts,
                                    event_id) AS prev_ts
               FROM events),
    f AS (SELECT user_id, ts, event_id, event_type,
                 CASE WHEN prev_ts IS NULL
                        OR epoch(ts) - epoch(prev_ts) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM o),
    s AS (SELECT user_id, ts, event_id, event_type,
                 CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY
                                             ts, event_id
                                             ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS session_id
          FROM f),
    p AS (SELECT user_id, session_id,
                 array_to_string(
                     list_slice(list(event_type ORDER BY ts, event_id),
                                1, {PATH_LEN}), '>') AS path
          FROM s GROUP BY 1, 2)
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT {PATH_TOP}
    """,
    tags=("events", "session-paths"),
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining lite: the most common leading event-type PATHS
    (first 4 events) across lag-gap sessions — the "what do users actually
    do first" table funnels are designed from. Reuses the
    events_sessions_lag_gap sessionization (30-min gap, ts/event_id tie
    order).

    Scale shape: the per-session ordered path is an array_sort over a
    collect_list of (ts, event_id, type) structs — grouped per session,
    never a global sort; the path head is TakeOrdered (orderBy+limit).
    Ties inside one timestamp break on event_id, so the path string is
    deterministic and the oracle's ordered list() replays it exactly."""
    ev = spread(table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_s = F.when(
        F.col("prev_ts").isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
        1).otherwise(0)
    s = (ev.withColumn("prev_ts", F.lag("ts").over(w))
         .withColumn("new_session", new_s)
         .withColumn("session_id", F.sum("new_session").over(wrun)))
    p = (s.groupBy("user_id", "session_id")
         .agg(F.collect_list(F.struct("ts", "event_id", "event_type"))
              .alias("evs"))
         .select(F.concat_ws(
             ">",
             F.slice(F.transform(F.array_sort("evs"),
                                 lambda x: x["event_type"]),
                     1, PATH_LEN)).alias("path")))
    return (p.groupBy("path").agg(F.count("*").alias("n_sessions"))
            .orderBy(F.col("n_sessions").desc(), "path")
            .limit(PATH_TOP))


# ------------------------------------- sharded heavy-hitters (top users)

HH_TOP = 10    # report head
HH_PER_SHARD = 10  # per-shard candidate width
HH_SHARDS = 32
# Exactness argument (a true top-K user cannot be pruned because sharding
# is BY the key) requires every shard to surface at least HH_TOP
# candidates — raising HH_TOP without HH_PER_SHARD would silently break it.
# Explicit raise, not `assert`: the guard must survive `python -O`.
if HH_PER_SHARD < HH_TOP:
    raise ValueError("per-shard width must cover the report head "
                     f"(HH_PER_SHARD={HH_PER_SHARD} < HH_TOP={HH_TOP})")


@register(
    "events_heavy_hitters",
    oracle=f"""
    WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
               FROM events GROUP BY 1)
    SELECT CAST(row_number() OVER (ORDER BY n_events DESC, user_id)
                AS BIGINT) AS rank,
           user_id, n_events
    FROM c ORDER BY n_events DESC, user_id LIMIT {HH_TOP}
    """,
    tags=("events", "heavy-hitters"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-activity users via SHARDED candidate generation: count per
    user (keys hash-colocate, so each user's count is exact), keep each
    shard's top-10 with a bounded per-shard window, then rank the
    32x10 candidate pool globally. Because sharding is BY the key, a true
    top-10 user can only be missed if 10 larger users share its shard —
    the oracle computes the true top-10 directly, so the row goes red if
    the prune ever drops one (the verification face of the pattern).

    Scale shape: at 1e10 keys the full ranked sort never happens — the
    shard window bounds the final gather to shards x 10 rows. The count
    aggregation itself is the one real shuffle; everything after operates
    on the candidate pool."""
    from ..functions.hashing import hash32_col

    ev = spread(table(spark, sf_dir, "events"))
    c = (ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
         .withColumn("shard",
                     hash32_col(F.col("user_id").cast("string"))
                     % HH_SHARDS))
    wsh = Window.partitionBy("shard").orderBy(
        F.col("n_events").desc(), "user_id")
    cand = (c.withColumn("srk", F.row_number().over(wsh))
            .filter(F.col("srk") <= HH_PER_SHARD))
    wg = Window.partitionBy().orderBy(F.col("n_events").desc(), "user_id")
    return (cand.select("user_id", "n_events")
            .orderBy(F.col("n_events").desc(), "user_id")
            .limit(HH_TOP)
            .select(F.row_number().over(wg).cast("long").alias("rank"),
                    "user_id", "n_events")
            .orderBy("rank"))


# --------------------------------------- RFM user segmentation

RFM_NTILES = 4


@register(
    "events_rfm_segments",
    oracle=f"""
    WITH mx AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
    u AS (SELECT user_id,
                 (mx.max_us - max(epoch_us(ts))) // 86400000000 AS rec_days,
                 CAST(count(*) AS BIGINT) AS freq,
                 CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                      AS BIGINT) AS mon_micro
          FROM events CROSS JOIN mx GROUP BY user_id, mx.max_us),
    q AS (SELECT user_id, rec_days, freq, mon_micro,
                 ntile({RFM_NTILES}) OVER (ORDER BY rec_days, user_id) AS r_q,
                 ntile({RFM_NTILES}) OVER (ORDER BY freq DESC, user_id) AS f_q,
                 ntile({RFM_NTILES}) OVER (ORDER BY mon_micro DESC, user_id)
                   AS m_q
          FROM u)
    SELECT CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS rfm_code,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(rec_days) AS BIGINT) AS sum_rec_days,
           CAST(sum(freq) AS BIGINT) AS sum_freq,
           CAST(sum(mon_micro) AS BIGINT) AS sum_mon_micro
    FROM q GROUP BY 1 ORDER BY 1
    """,
    tags=("events", "rfm", "segmentation"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation — the
    classic behavioral cohorting: quartile each dimension, concatenate
    into a 3-digit segment code, aggregate per segment. Recency is exact
    integer microseconds against the corpus max (sub-second timestamps;
    see the epoch_us/unix_micros note in the verify recipe); monetary
    sums are int64-quantized per event BEFORE aggregation, so every
    value that crosses a shuffle is exact.

    Scale: one keyed count/max/sum shuffle; the three ntile windows run
    over the per-user aggregate (1e8-ish rows at 100 TB — windowed
    global sorts, the honest cost of exact quantiles; approx_percentile
    cuts would be the relaxation)."""
    ev = spread(table(spark, sf_dir, "events"))
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    u = (ev.crossJoin(F.broadcast(mx))
         .groupBy("user_id", "max_us")
         .agg(F.expr("(max_us - max(unix_micros(ts))) div 86400000000")
              .cast("bigint").alias("rec_days"),
              F.count("*").cast("bigint").alias("freq"),
              F.sum(F.floor(F.col("value") * 1e6 + 0.5).cast("bigint"))
              .cast("bigint").alias("mon_micro")))
    q = (u.withColumn("r_q", F.ntile(RFM_NTILES).over(
            Window.orderBy("rec_days", "user_id")))
         .withColumn("f_q", F.ntile(RFM_NTILES).over(
            Window.orderBy(F.col("freq").desc(), "user_id")))
         .withColumn("m_q", F.ntile(RFM_NTILES).over(
            Window.orderBy(F.col("mon_micro").desc(), "user_id"))))
    return (q.groupBy((F.col("r_q") * 100 + F.col("f_q") * 10
                       + F.col("m_q")).cast("int").alias("rfm_code"))
            .agg(F.count("*").cast("bigint").alias("n_users"),
                 F.sum("rec_days").cast("bigint").alias("sum_rec_days"),
                 F.sum("freq").cast("bigint").alias("sum_freq"),
                 F.sum("mon_micro").cast("bigint").alias("sum_mon_micro"))
            .orderBy("rfm_code"))


# --------------------------------------- last-touch attribution

@register(
    "events_attribution_last_touch",
    oracle="""
    WITH a AS (
        SELECT event_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS channel
        FROM events),
    c AS (SELECT coalesce(channel, 'none') AS channel
          FROM a WHERE event_type = 'purchase'),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c)
    SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(count(*) AS BIGINT) * 1000000 // tot.n AS share_ppm
    FROM c CROSS JOIN tot GROUP BY channel, tot.n ORDER BY channel
    """,
    tags=("events", "attribution"),
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase credits the most
    recent preceding non-purchase event of the same user ('none' when the
    purchase is the user's first touch). The running last-non-null window
    keeps this a SINGLE pass per user partition — no self-join of
    conversions against the event history (which at 100 TB would be a
    second full shuffle plus a skewed range join). (ts, event_id) ordering
    makes the credited channel deterministic under same-timestamp ties."""
    ev = spread(table(spark, sf_dir, "events"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    chan = F.last(F.when(F.col("event_type") != "purchase",
                         F.col("event_type")), ignorenulls=True).over(w)
    conv = (ev.withColumn("channel", chan)
            .filter(F.col("event_type") == "purchase")
            .select(F.coalesce("channel", F.lit("none")).alias("channel")))
    tot = conv.agg(F.count("*").cast("bigint").alias("n"))
    return (conv.crossJoin(F.broadcast(tot))
            .groupBy("channel", "n")
            .agg(F.count("*").cast("bigint").alias("n_conversions"))
            .select("channel", "n_conversions",
                    F.expr("n_conversions * 1000000 div n")
                    .cast("bigint").alias("share_ppm"))
            .orderBy("channel"))


# --------------------------------------- weekly seasonality profile

@register(
    "events_seasonality_profile",
    oracle="""
    WITH b AS (SELECT CAST(isodow(ts) AS INT) AS dow,
                      CAST(hour(ts) AS INT) AS hod,
                      CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v_micro
               FROM events),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b)
    SELECT dow, hod, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) * 1000000 // tot.n AS BIGINT) AS share_ppm,
           CAST(sum(v_micro) AS BIGINT) AS sum_value_micro
    FROM b CROSS JOIN tot GROUP BY dow, hod, tot.n ORDER BY dow, hod
    """,
    tags=("events", "seasonality"),
)
def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity profile — the calendar
    seasonality matrix capacity planning and anomaly baselines read
    (events_hourly_zscore is the anomaly face; this is the baseline).
    ISO day numbering on both engines (Spark weekday+1 == DuckDB isodow);
    values int64-quantized pre-sum. One scan, one 168-cell aggregate."""
    ev = spread(table(spark, sf_dir, "events"))
    b = ev.select((F.expr("weekday(ts)") + 1).cast("int").alias("dow"),
                  F.hour("ts").cast("int").alias("hod"),
                  F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")
                  .alias("v_micro"))
    tot = b.agg(F.count("*").cast("bigint").alias("n"))
    return (b.crossJoin(F.broadcast(tot))
            .groupBy("dow", "hod", "n")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.sum("v_micro").cast("bigint").alias("sum_value_micro"))
            .select("dow", "hod", "n_events",
                    F.expr("n_events * 1000000 div n").cast("bigint")
                    .alias("share_ppm"),
                    "sum_value_micro")
            .orderBy("dow", "hod"))


# --------------------------------------- cohort LTV matrix

@register(
    "events_cohort_ltv",
    oracle="""
    WITH u AS (SELECT user_id,
                      CAST(date_trunc('week', min(ts)) AS DATE)
                        AS cohort_week
               FROM events GROUP BY 1),
    e AS (SELECT ev.user_id, u.cohort_week,
                 CAST(date_diff('day', u.cohort_week,
                      CAST(date_trunc('week', ev.ts) AS DATE)) // 7
                      AS INT) AS age_weeks,
                 CAST(floor(ev.value * 1e6 + 0.5) AS BIGINT) AS v_micro
          FROM events ev JOIN u USING (user_id)),
    g AS (SELECT cohort_week, age_weeks,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users,
                 CAST(sum(v_micro) AS BIGINT) AS value_micro
          FROM e GROUP BY 1, 2)
    SELECT cohort_week, age_weeks, n_active_users, value_micro,
           CAST(sum(value_micro) OVER (PARTITION BY cohort_week
                                       ORDER BY age_weeks) AS BIGINT)
             AS cum_value_micro
    FROM g ORDER BY cohort_week, age_weeks
    """,
    tags=("events", "cohort", "ltv"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: users grouped by first-seen ISO
    week, event value accumulated by weeks-since-cohort — the LTV curve
    per acquisition cohort (events_retention_cohorts is the activity
    face; this is the value face). Week truncation is ISO-Monday on
    both engines; values int64-quantized pre-sum; the cumulative sum is
    a window over the bounded (cohort x age) grid. Two keyed shuffles:
    first-seen per user, then the cohort-age aggregate."""
    ev = spread(table(spark, sf_dir, "events"))
    u = (ev.groupBy("user_id")
         .agg(F.date_trunc("week", F.min("ts")).cast("date")
              .alias("cohort_week")))
    e = (ev.join(u, "user_id")
         .select("user_id", "cohort_week",
                 (F.datediff(F.date_trunc("week", F.col("ts")).cast("date"),
                             F.col("cohort_week")) / 7).cast("int")
                 .alias("age_weeks"),
                 F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")
                 .alias("v_micro")))
    g = (e.groupBy("cohort_week", "age_weeks")
         .agg(F.count_distinct("user_id").cast("bigint")
              .alias("n_active_users"),
              F.sum("v_micro").cast("bigint").alias("value_micro")))
    wcum = (Window.partitionBy("cohort_week").orderBy("age_weeks")
            .rowsBetween(Window.unboundedPreceding, 0))
    return (g.withColumn("cum_value_micro",
                         F.sum("value_micro").over(wcum).cast("bigint"))
            .orderBy("cohort_week", "age_weeks"))


# --------------------------------------- bot-regularity flags

BOT_GAP_CAP_S = 604_800   # gaps capped at one week (bounds sum-of-squares)
BOT_CV2_MAX = 0.1         # squared coefficient of variation "too regular"
BOT_MIN_EVENTS = 20       # flag only active users


@register(
    "events_bot_regularity_flags",
    oracle=f"""
    WITH s AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
    g AS (SELECT user_id,
                 CASE WHEN prev_us IS NULL THEN NULL
                      ELSE least((us - prev_us) // 1000000,
                                 {BOT_GAP_CAP_S}) END AS gap_s
          FROM (SELECT user_id, us,
                       lag(us) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id) AS prev_us
                FROM s)),
    u AS (SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(count(gap_s) AS BIGINT) AS n_gaps,
                 CAST(coalesce(sum(gap_s), 0) AS BIGINT) AS sum_g,
                 CAST(coalesce(sum(gap_s * gap_s), 0) AS BIGINT) AS sum_g2
          FROM g GROUP BY 1)
    SELECT user_id, n_events,
           {sim.round6_stable_sql(
               'CASE WHEN n_gaps > 0 THEN sum_g / CAST(n_gaps AS DOUBLE) '
               'ELSE 0 END')} AS mean_gap_s,
           {sim.round6_stable_sql(
               'CASE WHEN n_gaps > 1 AND sum_g > 0 THEN '
               'CAST(n_gaps AS DOUBLE) * sum_g2 '
               '/ (CAST(sum_g AS DOUBLE) * sum_g) - 1 '
               'ELSE 0 END')} AS cv2,
           CAST(n_events >= {BOT_MIN_EVENTS} AND n_gaps > 1 AND sum_g > 0
                AND {sim.round6_stable_sql(
                    'CAST(n_gaps AS DOUBLE) * sum_g2 '
                    '/ (CAST(sum_g AS DOUBLE) * sum_g) - 1')}
                    < {BOT_CV2_MAX} AS INT) AS flag_regular
    FROM u ORDER BY user_id
    """,
    tags=("events", "bot-detection"),
)
def q_bot_regularity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automation-signal scoring per user: inter-event gap statistics
    and the squared coefficient of variation — near-constant gaps
    (cv^2 < {BOT_CV2_MAX}) on an active account are the classic
    scheduled-bot signature human traffic doesn't produce.

    Exactness: gaps are exact integer seconds (microsecond timestamps,
    integer division), capped at one week so the int64 sum of squares
    stays bounded; the cv^2 numerator crosses into double BEFORE the
    n_gaps x sum_g2 product (an int64 product would overflow at ~5k
    near-cap gaps), and cv^2 is formed once per user from the moments
    and stable-rounded BEFORE the threshold compare, so the flag cannot
    straddle engines.
    One lag window + one aggregate, both on the same user partitioning."""
    ev = spread(table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = (ev.select("user_id", F.unix_micros("ts").alias("us"), "event_id")
         .withColumn("prev_us", F.lag("us").over(w))
         .withColumn("gap_s",
                     F.when(F.col("prev_us").isNull(), F.lit(None))
                     .otherwise(F.least(
                         F.expr("(us - prev_us) div 1000000"),
                         F.lit(BOT_GAP_CAP_S).cast("bigint")))))
    u = (g.groupBy("user_id")
         .agg(F.count("*").cast("bigint").alias("n_events"),
              F.count("gap_s").cast("bigint").alias("n_gaps"),
              F.coalesce(F.sum("gap_s"), F.lit(0)).cast("bigint")
              .alias("sum_g"),
              F.coalesce(F.sum(F.col("gap_s") * F.col("gap_s")), F.lit(0))
              .cast("bigint").alias("sum_g2")))
    mean_gap = F.when(F.col("n_gaps") > 0,
                      F.col("sum_g") / F.col("n_gaps").cast("double")) \
                .otherwise(F.lit(0.0))
    # n_gaps cast to double BEFORE the product: int64 n_gaps*sum_g2 would
    # overflow once a user accrues ~5k near-cap gaps (sum_g2 up to
    # n_gaps*3.66e11); the ratio is consumed as a double anyway.
    cv2_raw = (F.col("n_gaps").cast("double") * F.col("sum_g2")
               / (F.col("sum_g").cast("double") * F.col("sum_g")) - 1)
    cv2 = F.when((F.col("n_gaps") > 1) & (F.col("sum_g") > 0), cv2_raw) \
           .otherwise(F.lit(0.0))
    return (u.select(
        "user_id", "n_events",
        sim.round6_stable(mean_gap).alias("mean_gap_s"),
        sim.round6_stable(cv2).alias("cv2"),
        ((F.col("n_events") >= BOT_MIN_EVENTS) & (F.col("n_gaps") > 1)
         & (F.col("sum_g") > 0)
         & (sim.round6_stable(cv2_raw) < BOT_CV2_MAX)).cast("int")
        .alias("flag_regular"))
        .orderBy("user_id"))


# --------------------------------------- gaps-and-islands streaks

@register(
    "events_longest_streak",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
               FROM events),
    r AS (SELECT user_id, day,
                 date_diff('day', DATE '1970-01-01', day)
                   - row_number() OVER (PARTITION BY user_id ORDER BY day)
                   AS grp
          FROM d),
    s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
          FROM r GROUP BY 1, 2)
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM s GROUP BY user_id ORDER BY user_id
    """,
    tags=("events", "gaps-and-islands"),
)
def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands problem via the epoch_day - row_number trick:
    consecutive days share a constant difference, so islands fall out of
    one grouped count (no self-join, no iterative logic). Engagement
    metric every retention dashboard carries. All integer arithmetic;
    two aggregations sharing the user partitioning."""
    ev = spread(table(spark, sf_dir, "events"))
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.withColumn(
        "grp",
        F.datediff("day", F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w))
    s = r.groupBy("user_id", "grp").agg(F.count("*").cast("bigint")
                                        .alias("len"))
    return (s.groupBy("user_id")
            .agg(F.sum("len").cast("bigint").alias("n_active_days"),
                 F.max("len").cast("bigint").alias("longest_streak"),
                 F.count("*").cast("bigint").alias("n_streaks"))
            .orderBy("user_id"))


# ------------------------------------------------ CUSUM drift monitor

# One-sided CUSUM (Page 1954) over daily event volumes — the classic
# sequential change detector. The recurrence s_i = max(0, s_{i-1} + x_i)
# has the exact closed form s_i = prefix_i - min(0, min_{j<=i} prefix_j),
# which turns the "sequential" detector into two ordered windows — fully
# parallel per monitored key, exact integer arithmetic throughout.
CUSUM_H_NUM = 1   # drift threshold = (NUM/DEN) x mean daily volume,
CUSUM_H_DEN = 2   # i.e. flag when cumulative excess > half a mean day


def cusum_over_daily(daily: DataFrame) -> DataFrame:
    """The CUSUM closed form over a (event_type, day, n) aggregate —
    shared by the batch query below and the streaming monitor
    (foreachBatch over a complete-mode aggregate snapshot; see
    tests/test_streaming.py::test_streaming_cusum_drift_matches_batch),
    so both faces compute the identical statistic."""
    wtype = Window.partitionBy("event_type")
    word = (Window.partitionBy("event_type").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0))
    t = (daily
         .withColumn("total", F.sum("n").over(wtype).cast("bigint"))
         .withColumn("days", F.count("*").over(wtype).cast("bigint")))
    p = t.withColumn(
        "prefix",
        F.sum(F.col("n") * F.col("days") - F.col("total")).over(word)
        .cast("bigint"))
    s = p.withColumn(
        "cusum",
        F.col("prefix")
        - F.least(F.lit(0).cast("bigint"), F.min("prefix").over(word)))
    return s.select(
        "event_type", "day", "n", "cusum",
        (F.col("cusum") * CUSUM_H_DEN > F.col("total") * CUSUM_H_NUM)
        .cast("int").alias("is_drift"))


@register(
    "events_cusum_drift",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    t AS (SELECT *,
                 CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
                   AS total,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS days
          FROM daily),
    p AS (SELECT *,
                 CAST(sum(n * days - total) OVER (
                     PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS prefix
          FROM t),
    s AS (SELECT *,
                 prefix - least(CAST(0 AS BIGINT), min(prefix) OVER (
                     PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS cusum
          FROM p)
    SELECT event_type, day, n, cusum,
           CAST(cusum * {CUSUM_H_DEN} > total * {CUSUM_H_NUM} AS INT)
             AS is_drift
    FROM s ORDER BY event_type, day
    """,
    tags=("llm", "events", "cusum", "drift"),
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM drift detection on daily volumes: excess
    x_d = n_d*days - total (the integer-exact form of n_d - mean), the
    clamped cumulative sum via its prefix-minus-running-min closed form,
    and a drift flag when the statistic exceeds (1/2) x mean daily
    volume (both sides scaled by `days`, so every comparison is int64).

    Scale shape: one map-side-partial groupBy to (type, day) rows, then
    two stacked windows on ONE (event_type) partitioning — the per-type
    totals ride the same partition as unbounded aggregates. The
    sequential recurrence never executes sequentially: the closed form
    makes CUSUM embarrassingly parallel per key (and re-runnable on
    every streaming micro-batch snapshot — cusum_over_daily)."""
    e = spread(table(spark, sf_dir, "events"))
    daily = (e.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count("*").cast("bigint").alias("n")))
    return cusum_over_daily(daily).orderBy("event_type", "day")


# --------------------------------------- two-state burst detection

# Kleinberg's burst automaton (2-state variant): a base-rate state and
# an elevated-rate state (BURST_S x the user's base rate); each
# inter-event gap pays the negative log-likelihood of its state's
# exponential density, entering the burst state pays a ln(n) transition
# toll. Viterbi decodes the min-cost state path per user. Costs are
# quantized to an int64 1e-6 grid BEFORE the DP, so every comparison —
# and therefore the decoded path — is exact integer arithmetic on both
# engines (ties prefer the base state / base predecessor, pinned).
# Residual cross-engine risk (same caveat as the unigram tokenizer
# above): the ln() terms come from CPython math.log here and DuckDB's
# libm in the oracle; a 1-ulp rounding difference landing exactly on a
# floor(x*1e6+0.5) grid boundary would shift one quantized cost by 1
# and could flip a decoded path. Never observed at any tested SF —
# documented as a boundary event, not claimed impossible.
BURST_S = 2          # burst-state rate multiplier
BURST_INF = 10 ** 15  # "unreachable" start cost for the burst state

BURST_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_gaps", LongType()),
    StructField("n_bursts", LongType()),
    StructField("burst_gaps", LongType()),
    StructField("path_cost_q", LongType()),
])


def _burst_decode(gaps_us: list[int]) -> tuple[int, int, int, int]:
    """(n_gaps, n_bursts, burst_gaps, path_cost_q) — exact integer DP;
    shared by the Spark UDF and the unit-test reference."""
    n = len(gaps_us)
    if n == 0:
        return 0, 0, 0, 0
    T = max(sum(gaps_us), 1)
    lam0 = n / T
    lam1 = BURST_S * lam0
    lnl0, lnl1 = math.log(lam0), math.log(lam1)
    trans = math.floor(math.log(n) * 1e6 + 0.5)
    c0, c1 = 0, BURST_INF
    b0 = b1 = r0 = r1 = 0
    for g in gaps_us:
        g = float(g)
        k0 = math.floor((lam0 * g - lnl0) * 1e6 + 0.5)
        k1 = math.floor((lam1 * g - lnl1) * 1e6 + 0.5)
        nc0 = min(c0, c1) + k0
        nb0, nr0 = (b0, r0) if c0 <= c1 else (b1, r1)
        enter = c0 + trans
        nc1 = min(enter, c1) + k1
        nb1, nr1 = (b0 + 1, r0 + 1) if enter <= c1 else (b1, r1 + 1)
        c0, c1, b0, b1, r0, r1 = nc0, nc1, nb0, nb1, nr0, nr1
    if c0 <= c1:
        return n, b0, r0, c0
    return n, b1, r1, c1


@register(
    "events_kleinberg_burst",
    oracle=None,  # set below
    tags=("llm", "events", "burst-detection", "viterbi"),
)
def q_kleinberg_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burst detection over inter-event gaps: Kleinberg's
    two-state automaton Viterbi-decoded with integer-quantized costs.
    Reports each user's burst-episode count, gaps spent in the burst
    state, and the decoded path cost — the activity-burst face of the
    bot/anomaly family (CUSUM watches volume drift; this finds rate
    EPISODES inside one user's own timeline).

    Scale shape: ONE shuffle on user_id into applyInPandas groups —
    thousands of users decode in parallel, each DP bounded by that
    user's event count; per-user constants (base rate, tolls) derive
    from exact int64 gap sums. The oracle replays the DP as a
    pure-scalar recursive CTE over per-user gap arrays (no LATERAL),
    with the burst state seeded at an integer infinity."""
    import pandas as pd

    e = spread(table(spark, sf_dir, "events"))

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        # exact integer microseconds regardless of pandas' ns/us unit
        us = pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
        gaps = [us[i + 1] - us[i] for i in range(len(us) - 1)]
        n, b, r, c = _burst_decode(gaps)
        return pd.DataFrame(
            [(int(pdf["user_id"].iloc[0]), n, b, r, c)],
            columns=[f.name for f in BURST_SCHEMA.fields])

    return (e.select("user_id", "ts", "event_id")
            .groupBy("user_id")
            .applyInPandas(decode, BURST_SCHEMA)
            .orderBy("user_id"))


def _burst_oracle() -> str:
    return f"""
    WITH RECURSIVE
    ts AS (SELECT user_id, epoch_us(ts) AS us
           FROM events),
    ug AS (
        SELECT user_id,
               list_transform(range(1, len(l)), i -> l[i + 1] - l[i])
                 AS gaps,
               CAST(len(l) - 1 AS BIGINT) AS n
        FROM (SELECT user_id, list(us ORDER BY us) AS l
              FROM ts GROUP BY 1)),
    uc AS (
        SELECT user_id, gaps, n,
               CAST(n AS DOUBLE)
                 / greatest(CAST(list_sum(gaps) AS BIGINT), 1) AS lam0,
               {BURST_S} * (CAST(n AS DOUBLE)
                 / greatest(CAST(list_sum(gaps) AS BIGINT), 1)) AS lam1,
               CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
                 AS trans
        FROM ug WHERE n > 0),
    st(user_id, i, n, c0, c1, b0, b1, r0, r1) AS (
        SELECT user_id, 0, n, CAST(0 AS BIGINT),
               CAST({BURST_INF} AS BIGINT), CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM uc
        UNION ALL
        SELECT q.user_id, q.i + 1, q.n,
               least(q.c0, q.c1) + q.k0,
               least(q.c0 + q.trans, q.c1) + q.k1,
               CASE WHEN q.c0 <= q.c1 THEN q.b0 ELSE q.b1 END,
               CASE WHEN q.c0 + q.trans <= q.c1
                    THEN q.b0 + 1 ELSE q.b1 END,
               CASE WHEN q.c0 <= q.c1 THEN q.r0 ELSE q.r1 END,
               CASE WHEN q.c0 + q.trans <= q.c1
                    THEN q.r0 + 1 ELSE q.r1 + 1 END
        FROM (
            SELECT s.*, u.trans,
                   CAST(floor((u.lam0 * CAST(u.gaps[s.i + 1] AS DOUBLE)
                               - ln(u.lam0)) * 1e6 + 0.5) AS BIGINT)
                     AS k0,
                   CAST(floor((u.lam1 * CAST(u.gaps[s.i + 1] AS DOUBLE)
                               - ln(u.lam1)) * 1e6 + 0.5) AS BIGINT)
                     AS k1
            FROM st s JOIN uc u USING (user_id)
            WHERE s.i < s.n) q),
    fin AS (SELECT user_id, n,
                   CASE WHEN c0 <= c1 THEN b0 ELSE b1 END AS n_bursts,
                   CASE WHEN c0 <= c1 THEN r0 ELSE r1 END AS burst_gaps,
                   CASE WHEN c0 <= c1 THEN c0 ELSE c1 END AS path_cost_q
            FROM st WHERE i = n),
    everyone AS (SELECT DISTINCT user_id FROM events)
    SELECT e.user_id,
           CAST(coalesce(f.n, 0) AS BIGINT) AS n_gaps,
           CAST(coalesce(f.n_bursts, 0) AS BIGINT) AS n_bursts,
           CAST(coalesce(f.burst_gaps, 0) AS BIGINT) AS burst_gaps,
           CAST(coalesce(f.path_cost_q, 0) AS BIGINT) AS path_cost_q
    FROM everyone e LEFT JOIN fin f ON f.user_id = e.user_id
    ORDER BY e.user_id
    """


REGISTRY["events_kleinberg_burst"].oracle = _burst_oracle()


# ----------------------------------------------- cohort retention

# The classic product-analytics table the events family was missing:
# users cohorted by first-activity week, and for each (cohort week,
# week offset) the fraction of the cohort still active. Weeks are
# exact integer arithmetic — days since the corpus epoch, truncating
# div 7 — so both engines band identically; retention is integer ppm.
COHORT_EPOCH = "2024-01-01"  # driver events start here (TESTDATA.md)


@register(
    "events_cohort_retention",
    oracle=f"""
    WITH w AS (SELECT user_id,
                      CAST(date_diff('day', DATE '{COHORT_EPOCH}',
                                     CAST(ts AS DATE)) // 7 AS BIGINT)
                          AS week
               FROM events),
    uw AS (SELECT DISTINCT user_id, week FROM w),
    cohort AS (SELECT user_id, min(week) AS cohort_week
               FROM uw GROUP BY 1),
    sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
              FROM cohort GROUP BY 1),
    act AS (SELECT c.cohort_week,
                   CAST(u.week - c.cohort_week AS BIGINT) AS week_offset,
                   CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_active
            FROM uw u JOIN cohort c ON c.user_id = u.user_id
            GROUP BY 1, 2)
    SELECT a.cohort_week, a.week_offset, s.n_cohort, a.n_active,
           CAST(a.n_active * 1000000 // s.n_cohort AS BIGINT)
               AS retention_ppm
    FROM act a JOIN sizes s ON s.cohort_week = a.cohort_week
    ORDER BY a.cohort_week, a.week_offset
    """,
    tags=("events", "cohort", "retention"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: cohort = a user's first active
    week; one row per (cohort_week, week_offset) with the cohort size,
    active-user count, and retention in integer ppm — the
    product-analytics rollup next to DAU/WAU, RFM, and
    time-to-convert.

    Scale shape: one events scan -> distinct (user, week) (the only
    event-volume shuffle, keyed on user_id x week); the cohort
    assignment is a user-keyed aggregate joined back user-keyed; the
    final matrix and the cohort sizes are both tiny (weeks x weeks
    rows), with the sizes side broadcastable."""
    ev = table(spark, sf_dir, "events")
    uw = (ev.select("user_id",
                    F.expr(f"datediff(to_date(ts), '{COHORT_EPOCH}')"
                           f" div 7").cast("bigint").alias("week"))
          .distinct())
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = (cohort.groupBy("cohort_week")
             .agg(F.count("*").cast("bigint").alias("n_cohort")))
    act = (uw.join(cohort, "user_id")
           .groupBy("cohort_week",
                    (F.col("week") - F.col("cohort_week"))
                    .cast("bigint").alias("week_offset"))
           .agg(F.count_distinct("user_id").cast("bigint")
                .alias("n_active")))
    return (act.join(F.broadcast(sizes), "cohort_week")
            .select("cohort_week", "week_offset", "n_cohort", "n_active",
                    F.expr("cast(n_active * 1000000 div n_cohort"
                           " as bigint)").alias("retention_ppm"))
            .orderBy("cohort_week", "week_offset"))


# ------------------------------------- VARIANT semi-structured path

# Spark 4's VARIANT type is the modern schema-on-read path for the
# events.props JSON payload: parse once into the binary variant
# encoding, then typed path extraction (variant_get) — at scale this
# replaces per-expression JSON string re-parsing (get_json_object
# re-tokenizes the string for EVERY path it appears in) with one parse
# feeding any number of typed reads. json_extract_events covers the
# string path; this covers the variant path with a distinct rollup.
@register(
    "events_props_variant",
    oracle="""
    WITH k AS (SELECT event_type,
                      CAST(json_extract_string(props, '$.k') AS BIGINT)
                          AS k
               FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_even_k
    FROM k GROUP BY 1 ORDER BY 1
    """,
    tags=("scalar", "json", "variant"),
)
def q_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed path extraction through Spark 4's VARIANT type:
    parse_json(props) once per row, variant_get('$.k', 'bigint') for
    the typed read, then a per-event-type rollup (count, distinct,
    min/max, even-value tally). The oracle reads the same paths with
    DuckDB's JSON extraction — identical int64 values, so the variant
    encoding round-trip is value-checked end to end.

    Scale shape: parse + extraction are map-side expressions feeding
    one partial+final hash aggregate on event_type; the JSON string is
    parsed ONCE regardless of how many paths are read (the reason
    variant exists)."""
    ev = table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.count_distinct("k").cast("bigint")
                 .alias("n_distinct_k"),
                 F.min("k").cast("bigint").alias("min_k"),
                 F.max("k").cast("bigint").alias("max_k"),
                 F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0))
                 .cast("bigint").alias("n_even_k"))
            .orderBy("event_type"))


# --------------------------- sliding-window distinct via HLL union

# Overlapping time windows are where the mergeable-sketch discipline
# pays hardest: "distinct users per sliding 6-hour window" computed
# naively touches every event once PER WINDOW it falls into (6x the
# raw volume here; worse as windows lengthen). The sketch form builds
# ONE Datasketches HLL per base hour — each raw event contributes to
# exactly one partial+final aggregate cell — then every sliding window
# is an hll_union_agg over its <= 6 constituent hourly sketch
# binaries: the raw data is scanned once, window fan-out happens on
# |hours| x 6 sketch rows. This is agg_hll_sketch_union's
# re-aggregation workflow extended along the time axis (and the batch
# twin of what a streaming job does with per-bucket sketch state).
# Output carries the EXACT per-window distinct (computed from the
# deduplicated (hour, user) pairs — still never raw volume per
# window) plus a Spark-side estimate-within-5% boolean the oracle
# pins to literal TRUE, the established engine-specific-sketch
# pattern.
SW_HOURS = 6  # sliding window width, hours


@register(
    "events_sliding_distinct_hll",
    oracle=f"""
    WITH b AS (SELECT epoch_us(ts) // 3600000000 AS h, user_id
               FROM events),
    hm AS (SELECT max(h) AS hmax FROM b),
    hrs AS (SELECT DISTINCT h FROM b),
    wins AS (SELECT h, unnest(range(h, least(h + {SW_HOURS - 1},
                                             hm.hmax) + 1)) AS w
             FROM hrs CROSS JOIN hm),
    nh AS (SELECT w, CAST(count(*) AS BIGINT) AS n_hours
           FROM wins GROUP BY w),
    pairs AS (SELECT DISTINCT h, user_id FROM b),
    pw AS (SELECT DISTINCT p.user_id, wn.w
           FROM pairs p JOIN wins wn ON wn.h = p.h),
    ex AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_users
           FROM pw GROUP BY w)
    SELECT nh.w AS window_hour, nh.n_hours, ex.exact_users,
           TRUE AS estimate_within_5pct
    FROM nh JOIN ex ON ex.w = nh.w
    ORDER BY window_hour
    """,
    tags=("events", "sketch", "hll", "sliding-window", "mergeable"),
)
def q_sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per sliding {SW_HOURS}-hour window from mergeable
    hourly HLL sketches (module comment above): one row per window
    ending at each hour with data in range, with the count of
    contributing hours, the exact distinct count, and the sketch
    estimate's 5%-tolerance check.

    Scale shape: the sketch build is one partial+final hourly
    aggregate over the raw scan; window fan-out explodes SKETCH rows
    (|hours| x {SW_HOURS} binaries), never events; each window's union
    re-aggregates <= {SW_HOURS} sketches; the exact side rides
    deduplicated (hour, user) pairs through the same bounded fan-out —
    an EVAL cost, as in agg_hll_sketch_union."""

    ev = table(spark, sf_dir, "events")
    # Hour bucket: Spark `div` and the oracle's `//` BOTH truncate
    # toward zero, so the bucketing agrees between engines even for
    # pre-1970 timestamps (the fixtures are post-epoch, where the two
    # idioms are trivially equal) — pinned by
    # tests/test_engine_semantics.py::test_hour_bucketing_agrees_pre_epoch.
    base = ev.select(
        F.expr("unix_micros(ts) div 3600000000").cast("long").alias("h"),
        "user_id")
    # pinned 1-row bound: consumed by both the sketch and exact sides,
    # and a re-derivation would cost a full events scan per consumer
    hmax = pin(base.agg(F.max("h").alias("hmax")))
    wexpr = f"sequence(h, least(h + {SW_HOURS - 1}, hmax))"
    swin = (base.groupBy("h")
            .agg(F.expr(f"hll_sketch_agg(user_id, {HLL_LG_K})").alias("sk"))
            .crossJoin(F.broadcast(hmax))
            .select(F.explode(F.expr(wexpr)).alias("w"), "sk")
            .groupBy("w")
            .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))")
                 .alias("est"),
                 F.count("*").cast("long").alias("n_hours")))
    exact = (base.distinct()
             .crossJoin(F.broadcast(hmax))
             .select(F.explode(F.expr(wexpr)).alias("w"), "user_id")
             .groupBy("w")
             .agg(F.count_distinct("user_id").cast("long")
                  .alias("exact_users")))
    return (swin.join(exact, "w")
            .select(F.col("w").alias("window_hour"), "n_hours",
                    "exact_users",
                    (F.abs(F.col("est") - F.col("exact_users"))
                     / F.col("exact_users") <= F.lit(0.05))
                    .alias("estimate_within_5pct"))
            .orderBy("window_hour"))


# ------------------- sliding-window quantiles from hourly histograms

# The quantile face of the mergeable-summary time axis
# (events_sliding_distinct_hll is the cardinality face): per-hour
# fixed-width value HISTOGRAMS are trivially mergeable (bucket-wise
# count sums), so every sliding window's quantiles come from merging
# <= SW_HOURS bounded histogram summaries — raw events are histogrammed
# ONCE; window fan-out multiplies (hour, bucket, count) rows, never
# events. The estimator picks the first bucket whose cumulative count
# reaches k (k = ceil(p*n), the type-1 order statistic), so the k-th
# smallest value PROVABLY lies inside that bucket: the report's
# within_w booleans are a theorem (est <= exact < est + SQ_W for any
# data and any bucketing), which is what lets the oracle pin them to
# literal TRUE — the agg_hll_sketch_union discipline applied to
# quantiles. SQ_W is a power of two, so value/SQ_W is EXACT binary
# float division and the bucket id is engine-identical. The exact
# order statistics ride the raw fan-out through one rank window per
# window — an EVAL cost only, exactly like the HLL operator's exact
# side; a production job ships the estimate and the error bound.
# STREAMING twin (round 12): streaming/quantile.py keeps the same
# hourly histograms as applyInPandasWithState managed state —
# byte-identical to the batch kernel, window composition equal to
# THIS operator exactly (tests/test_streaming.py) — completing the
# mergeable matrix (cardinality/moments/quantiles each batch+stream).
SQ_W = 4  # histogram bucket width (value units; power of two)


def _sliding_quantile_oracle() -> str:

    return f"""
    WITH b AS (SELECT epoch_us(ts) // 3600000000 AS h, value
               FROM events WHERE value IS NOT NULL),
    hm AS (SELECT max(h) AS hmax FROM b),
    hist AS (SELECT h, CAST(floor(value / {SQ_W}) AS BIGINT) AS bk,
                    count(*) AS cnt
             FROM b GROUP BY h, bk),
    hrs AS (SELECT DISTINCT h FROM hist),
    wins AS (SELECT h, unnest(range(h, least(h + {SW_HOURS - 1},
                                             hm.hmax) + 1)) AS w
             FROM hrs CROSS JOIN hm),
    nh AS (SELECT w, CAST(count(*) AS BIGINT) AS n_hours
           FROM wins GROUP BY w),
    wh AS (SELECT wn.w, hist.bk, sum(hist.cnt) AS cnt
           FROM hist JOIN wins wn ON wn.h = hist.h GROUP BY 1, 2),
    k AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS n_events,
                 (CAST(sum(cnt) AS BIGINT) + 1) // 2 AS k50,
                 (19 * CAST(sum(cnt) AS BIGINT) + 19) // 20 AS k95
          FROM wh GROUP BY w),
    cum AS (SELECT w, bk,
                   sum(cnt) OVER (PARTITION BY w ORDER BY bk) AS cum
            FROM wh),
    est AS (SELECT c.w,
                   CAST(min(CASE WHEN c.cum >= k.k50 THEN c.bk END)
                        * {SQ_W} AS BIGINT) AS est_p50,
                   CAST(min(CASE WHEN c.cum >= k.k95 THEN c.bk END)
                        * {SQ_W} AS BIGINT) AS est_p95
            FROM cum c JOIN k ON k.w = c.w GROUP BY c.w),
    raw AS (SELECT wn.w, b.value,
                   row_number() OVER (PARTITION BY wn.w
                                      ORDER BY b.value) AS rn
            FROM b JOIN wins wn ON wn.h = b.h),
    ex AS (SELECT r.w,
                  max(CASE WHEN r.rn = k.k50 THEN r.value END)
                      AS exact_p50,
                  max(CASE WHEN r.rn = k.k95 THEN r.value END)
                      AS exact_p95
           FROM raw r JOIN k ON k.w = r.w
           WHERE r.rn = k.k50 OR r.rn = k.k95
           GROUP BY r.w)
    SELECT k.w AS window_hour, nh.n_hours, k.n_events,
           est.est_p50, ex.exact_p50, TRUE AS within_w_p50,
           est.est_p95, ex.exact_p95, TRUE AS within_w_p95
    FROM k JOIN nh ON nh.w = k.w JOIN est ON est.w = k.w
           JOIN ex ON ex.w = k.w
    ORDER BY window_hour
    """


@register(
    "events_sliding_quantile_hist",
    oracle=None,  # set below (renders SW_HOURS)
    tags=("events", "sketch", "quantile", "sliding-window", "mergeable"),
)
def q_sliding_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95 of event values per sliding SW_HOURS-hour window from
    mergeable hourly histograms (module comment above): one row per
    window with the contributing-hour count, event count, the
    histogram estimate and exact value for each quantile, and the
    bucket-containment booleans the oracle pins to TRUE (a theorem of
    the estimator, not a tolerance).

    Scale shape: the histogram build is one partial+final hourly
    aggregate over the raw scan; window fan-out explodes HISTOGRAM
    rows (|hours| x SW_HOURS x |buckets| ints); the per-window
    cumulative scan and both bucket picks ride ONE window pass + ONE
    grouped conditional aggregate (no per-quantile re-scan); the
    exact side rides the raw fan-out through one rank window per
    window — an EVAL cost, as in events_sliding_distinct_hll; k
    arithmetic is integer (ceil via (a + b - 1)-style div, `div` ==
    `//` per the engine-semantics pin)."""

    ev = table(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        F.expr("unix_micros(ts) div 3600000000").cast("long").alias("h"),
        "value")
    # pinned 1-row bound consumed by both fan-out sides (hmax); the
    # per-window k table is consumed by the estimate and exact sides
    # and re-deriving it costs a histogram pass, so it is pinned too
    hmax = pin(base.agg(F.max("h").alias("hmax")))
    wexpr = f"sequence(h, least(h + {SW_HOURS - 1}, hmax))"
    # pinned: the hourly histogram (|hours| x |buckets| rows) feeds the
    # window merge, the hour list, and (through the merge) the k table —
    # without the pin each consumer would re-scan raw events
    hist = pin(base.groupBy("h", F.floor(F.col("value") / SQ_W)
                    .cast("long").alias("bk"))
               .agg(F.count("*").alias("cnt")))
    wh = (hist.crossJoin(F.broadcast(hmax))
          .select(F.explode(F.expr(wexpr)).alias("w"), "bk", "cnt")
          .groupBy("w", "bk").agg(F.sum("cnt").alias("cnt")))
    nh = (hist.select("h").distinct()
          .crossJoin(F.broadcast(hmax))
          .select(F.explode(F.expr(wexpr)).alias("w"))
          .groupBy("w").agg(F.count("*").cast("long").alias("n_hours")))
    k = pin(wh.groupBy("w")
            .agg(F.sum("cnt").cast("long").alias("n_events"))
            .select("w", "n_events",
                    F.expr("(n_events + 1) div 2").alias("k50"),
                    F.expr("(19 * n_events + 19) div 20").alias("k95")))
    cumw = (Window.partitionBy("w").orderBy("bk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    est = (wh.withColumn("cum", F.sum("cnt").over(cumw))
           .join(k, "w")
           .groupBy("w")
           .agg((F.min(F.when(F.col("cum") >= F.col("k50"),
                              F.col("bk"))) * SQ_W)
                .cast("long").alias("est_p50"),
                (F.min(F.when(F.col("cum") >= F.col("k95"),
                              F.col("bk"))) * SQ_W)
                .cast("long").alias("est_p95")))
    rankw = Window.partitionBy("w").orderBy("value")
    ex = (base.crossJoin(F.broadcast(hmax))
          .select(F.explode(F.expr(wexpr)).alias("w"), "value")
          .withColumn("rn", F.row_number().over(rankw))
          .join(k, "w")
          .filter((F.col("rn") == F.col("k50"))
                  | (F.col("rn") == F.col("k95")))
          .groupBy("w")
          .agg(F.max(F.when(F.col("rn") == F.col("k50"), F.col("value")))
               .alias("exact_p50"),
               F.max(F.when(F.col("rn") == F.col("k95"), F.col("value")))
               .alias("exact_p95")))
    return (k.join(nh, "w").join(est, "w").join(ex, "w")
            .select(F.col("w").alias("window_hour"), "n_hours",
                    "n_events",
                    "est_p50", "exact_p50",
                    ((F.col("exact_p50") >= F.col("est_p50"))
                     & (F.col("exact_p50") < F.col("est_p50") + SQ_W))
                    .alias("within_w_p50"),
                    "est_p95", "exact_p95",
                    ((F.col("exact_p95") >= F.col("est_p95"))
                     & (F.col("exact_p95") < F.col("est_p95") + SQ_W))
                    .alias("within_w_p95"))
            .orderBy("window_hour"))


REGISTRY["events_sliding_quantile_hist"].oracle = _sliding_quantile_oracle()


# ----------------------------- mergeable moments (mean/var/skew) merge

# The moments face of the mergeable-summary story (HLL = cardinality,
# histograms = quantiles, THIS = central moments): raw power sums
# (n, Σv, Σv², Σv³) are the canonical mergeable moment summary — partials
# from any partitioning of the data (here: per event-hour) merge by plain
# addition, with NO approximation, so a 100 TB job materializes per-hour
# (or per-file) 4-number summaries once and answers mean/variance/skewness
# for ANY hour subset by summing a handful of rows. Exactness discipline:
# values are quantized to the unit grid first (floor(v + 0.5), pure double
# ops both engines perform bit-identically), so every power sum is an
# exact INTEGER (order-independent — merged == direct is a theorem, not a
# float coincidence) carried as decimal(38,0)/int128; the final moments
# are a fixed sequence of IEEE double ops on exactly-converted sums.
# Magnitude license: v <= ~500 units, so Σv³ < 2^53 (exact double
# conversion) through ~sf300; past that, re-quantize coarser or split the
# conversion — the summary itself never saturates decimal(38,0).


def hourly_power_sums(df: DataFrame) -> DataFrame:
    """(event_type, h, pn, p1, p2, p3): the mergeable per-hour moment
    summary. Plain built-in aggregation, so the SAME builder runs as a
    batch pass here and as a stateful Structured Streaming query in
    tests/test_streaming.py (update mode; Spark keeps the per-(type,
    hour) sums as managed aggregation state) — the unified-API half of
    the mergeable-moments story, proven exactly equal because the sums
    are integers."""
    dec = "decimal(38,0)"
    q = df.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("v"))
    return (q.groupBy("event_type", "h")
            .agg(F.count("*").alias("pn"),
                 F.sum(F.col("v").cast(dec)).alias("p1"),
                 F.sum((F.col("v") * F.col("v")).cast(dec)).alias("p2"),
                 F.sum((F.col("v") * F.col("v") * F.col("v")).cast(dec))
                  .alias("p3")))


def _moments_tail_sql() -> str:
    # Shared final-moment arithmetic (identical textual op sequence on
    # both engines; see module comment). Input relation `mg` carries
    # (event_type, n_hours, n, s1, s2, s3) with exact integer sums.
    return f"""
    d AS (SELECT event_type, n_hours, n,
                 CAST(n AS DOUBLE) AS nd,
                 CAST(s1 AS DOUBLE) AS s1d,
                 CAST(s2 AS DOUBLE) AS s2d,
                 CAST(s3 AS DOUBLE) AS s3d
          FROM mg),
    m1 AS (SELECT event_type, n_hours, n, nd, s2d, s3d,
                  s1d / nd AS mean FROM d),
    m2 AS (SELECT event_type, n_hours, n, nd, s3d, mean,
                  s2d / nd AS ex2,
                  s2d / nd - mean * mean AS var FROM m1)
    SELECT event_type, n_hours, CAST(n AS BIGINT) AS n_events,
           {sim.round6_stable_sql('mean')} AS mean_value,
           {sim.round6_stable_sql('var')} AS variance,
           {sim.round6_stable_sql(
               '(s3d / nd - 3.0 * mean * ex2 + 2.0 * mean * mean * mean)'
               ' / (sqrt(var) * var)')} AS skewness
    FROM m2 ORDER BY event_type
    """


@register(
    "events_moments_merge",
    oracle=f"""
    WITH q AS (SELECT event_type,
                      epoch_us(ts) // 3600000000 AS h,
                      CAST(floor(value + 0.5) AS BIGINT) AS v
               FROM events WHERE value IS NOT NULL),
    part AS (SELECT event_type, h, count(*) AS pn,
                    sum(v) AS p1, sum(v * v) AS p2,
                    sum(v * v * v) AS p3
             FROM q GROUP BY event_type, h),
    mg AS (SELECT event_type,
                  CAST(count(*) AS BIGINT) AS n_hours,
                  sum(pn) AS n, sum(p1) AS s1,
                  sum(p2) AS s2, sum(p3) AS s3
           FROM part GROUP BY event_type),
    {_moments_tail_sql()}
    """,
    tags=("events", "sketch", "mergeable", "moments"),
)
def q_moments_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / variance / skewness per event type computed by MERGING
    per-hour raw-power-sum partials (module comment above): one row per
    event type with the number of hourly summaries merged, the event
    count, and the three moments (6 dp).

    Scale shape: pass 1 is a partial+final aggregate onto (type, hour)
    keys — the summary table a production job would persist (4 ints per
    key); pass 2 merges those rows by plain integer addition onto
    |types| keys. Nothing after the first aggregate ever touches raw
    events, and because the power sums are exact integers the merged
    result equals a direct global aggregate BIT-FOR-BIT (asserted
    against the oracle, which computes the same partials), at any
    partitioning — the property that makes incremental/rolling moment
    maintenance safe at 100 TB."""
    part = hourly_power_sums(table(spark, sf_dir, "events"))
    mg = (part.groupBy("event_type")
          .agg(F.count("*").cast("long").alias("n_hours"),
               F.sum("pn").alias("n"), F.sum("p1").alias("s1"),
               F.sum("p2").alias("s2"), F.sum("p3").alias("s3")))
    d = mg.select(
        "event_type", "n_hours", "n",
        F.col("n").cast("double").alias("nd"),
        F.col("s1").cast("double").alias("s1d"),
        F.col("s2").cast("double").alias("s2d"),
        F.col("s3").cast("double").alias("s3d"))
    m1 = d.withColumn("mean", F.col("s1d") / F.col("nd"))
    m2 = (m1.withColumn("ex2", F.col("s2d") / F.col("nd"))
          .withColumn("var",
                      F.col("s2d") / F.col("nd")
                      - F.col("mean") * F.col("mean")))
    skew = ((F.col("s3d") / F.col("nd")
             - F.lit(3.0) * F.col("mean") * F.col("ex2")
             + F.lit(2.0) * F.col("mean") * F.col("mean") * F.col("mean"))
            / (F.sqrt(F.col("var")) * F.col("var")))
    return (m2.select(
        "event_type", "n_hours", F.col("n").cast("long").alias("n_events"),
        sim.round6_stable(F.col("mean")).alias("mean_value"),
        sim.round6_stable(F.col("var")).alias("variance"),
        sim.round6_stable(skew).alias("skewness"))
        .orderBy("event_type"))


# ------------------------------------ Theil-Sen robust trend per type

# Robust drift detection over a daily activity series: the Theil-Sen
# estimator (median of all pairwise slopes) tolerates up to ~29% wild
# outliers where an OLS slope (events_hourly_zscore's frame of
# reference) is dragged by a single burst day. Distributed license:
# the pairwise self-join is over the DAILY AGGREGATE series, never raw
# events — the series length is bounded by the analysis window (30
# days here; a production job pins a trailing window the same way),
# so per-type pair counts are <= days², a few hundred rows. The slope
# of an integer-count pair over integer day indices is ONE IEEE
# division, so the median pick is engine-deterministic; the median is
# the type-1 lower order statistic (rank (n+1) div 2) with a
# (slope, d1, d2) total order so equal slopes break ties identically.


@register(
    "events_theil_sen_trend",
    oracle=f"""
    WITH daily AS (SELECT event_type,
                          epoch_us(ts) // 86400000000 AS d,
                          CAST(count(*) AS BIGINT) AS c
                   FROM events GROUP BY event_type, d),
    pairs AS (SELECT a.event_type,
                     (b.c - a.c) / CAST(b.d - a.d AS DOUBLE) AS slope,
                     a.d AS d1, b.d AS d2
              FROM daily a JOIN daily b
                ON b.event_type = a.event_type AND b.d > a.d),
    ranked AS (SELECT event_type, slope,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY slope, d1, d2) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS np
               FROM pairs),
    nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
           FROM daily GROUP BY event_type)
    SELECT r.event_type, nd.n_days, CAST(r.np AS BIGINT) AS n_pairs,
           {sim.round6_stable_sql('r.slope')} AS slope_per_day
    FROM ranked r JOIN nd ON nd.event_type = r.event_type
    WHERE r.rn = (r.np + 1) // 2
    ORDER BY r.event_type
    """,
    tags=("events", "robust-statistics", "trend"),
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily-activity trend per event type (module
    comment above): one row per type with the day count, the pairwise
    slope count, and the median pairwise slope in events/day (6 dp) —
    the outlier-tolerant answer to "is this event stream growing?".

    Scale shape: raw events collapse to the (type, day) aggregate in
    one partial+final pass; the pairwise join and the median window
    touch only that bounded series (<= days² rows per type), so the
    whole robust fit costs one aggregate + one tiny self-join no
    matter how many raw events back the series."""
    ev = table(spark, sf_dir, "events")
    daily = pin(ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .agg(F.count("*").cast("long").alias("c")))
    a = daily.select("event_type", F.col("d").alias("d1"),
                     F.col("c").alias("c1"))
    b = daily.select("event_type", F.col("d").alias("d2"),
                     F.col("c").alias("c2"))
    pairs = (a.join(b, "event_type")
             .filter(F.col("d2") > F.col("d1"))
             .select("event_type",
                     ((F.col("c2") - F.col("c1"))
                      / (F.col("d2") - F.col("d1")).cast("double"))
                     .alias("slope"), "d1", "d2"))
    wrk = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    wall = Window.partitionBy("event_type")
    ranked = (pairs.withColumn("rn", F.row_number().over(wrk))
              .withColumn("np", F.count("*").over(wall)))
    nd = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"))
    return (ranked.filter(F.col("rn") == F.expr("(np + 1) div 2"))
            .join(nd, "event_type")
            .select("event_type", "n_days",
                    F.col("np").cast("long").alias("n_pairs"),
                    sim.round6_stable(F.col("slope"))
                    .alias("slope_per_day"))
            .orderBy("event_type"))


# ----------------- sliding-window top-k from mergeable hour summaries

# The TOP-K face of the mergeable sliding-window axis, completing the
# row (distinct: events_sliding_distinct_hll; quantiles:
# events_sliding_quantile_hist; moments: events_moments_merge): exact
# per-hour (user, count) cells are summarized to each hour's top
# SLT_C entries plus the hour's truncation bound e_h (the C+1-th
# count; 0 when the hour has <= C users). Every sliding window then
# MERGES <= SW_HOURS bounded summaries — never raw events — and the
# frequent-items containment argument (sketch_freq_items_topk, applied
# per window) makes the head provably exact: for a true top-T user u,
# est_u >= f_u - D_w (D_w = sum of the window's hour bounds) and
# f_u >= f_T_true >= est_T, so u survives the est + D_w >= est_T
# prune; an exact candidate-only verify then ranks the head. Windows
# failing the guard — D_w > 0 with est_T <= D_w, OR a merged head
# holding fewer than TOP users (either way an unsummarized user could
# hide in the true top-T) — fall back to the full exact ranking FOR
# THAT WINDOW ONLY — a
# relational, window-scoped version of the freq-items driver guard,
# so the OUTPUT is the exact top-T for any input, any summary width.
# On the shipped fixtures every hour fits its summary (max per-hour
# users 166 < SLT_C at every SF, so every e_h = 0 and every window
# passes); the truncation, prune, and fallback regimes are exercised
# by planted tests. STREAMING twin: streaming/topk.py maintains the
# same per-hour summaries as applyInPandasWithState managed state —
# summary-exact vs the batch kernel, window heads equal to THIS
# operator (tests/test_streaming.py) — closing the batch+stream matrix
# for all four mergeable sliding axes.
SLT_C = 256  # per-hour summary width
SLT_TOP = 5  # report head per window


def _sliding_topk_oracle() -> str:
    return f"""
    WITH b AS (SELECT epoch_us(ts) // 3600000000 AS h, user_id
               FROM events),
    hm AS (SELECT max(h) AS hmax FROM b),
    hrs AS (SELECT DISTINCT h FROM b),
    wins AS (SELECT h, unnest(range(h, least(h + {SW_HOURS - 1},
                                             hm.hmax) + 1)) AS w
             FROM hrs CROSS JOIN hm),
    nh AS (SELECT w, CAST(count(*) AS BIGINT) AS n_hours
           FROM wins GROUP BY w),
    wu AS (SELECT wn.w, b.user_id, CAST(count(*) AS BIGINT) AS n_occ
           FROM b JOIN wins wn ON wn.h = b.h GROUP BY 1, 2),
    r AS (SELECT w, user_id, n_occ,
                 row_number() OVER (PARTITION BY w
                                    ORDER BY n_occ DESC, user_id)
                     AS rank
          FROM wu)
    SELECT r.w AS window_hour, nh.n_hours,
           CAST(r.rank AS BIGINT) AS rank,
           CAST(r.user_id AS BIGINT) AS user_id, r.n_occ
    FROM r JOIN nh ON nh.w = r.w
    WHERE r.rank <= {SLT_TOP}
    ORDER BY window_hour, rank
    """


@register(
    "events_sliding_topk",
    oracle=None,  # set below (renders SW_HOURS)
    tags=("events", "sketch", "frequent-items", "sliding-window",
          "mergeable"),
)
def q_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{SLT_TOP} users per sliding SW_HOURS-hour window via
    mergeable hourly summaries (module comment above): one row per
    (window, rank) with the contributing-hour count, user, and exact
    event count. The oracle is the plain exact per-window top-T — the
    per-window containment argument is what makes the summary path
    oracle-checkable, and the window-scoped fallback is what makes the
    output exact for ANY input.

    Scale shape: the per-(hour, user) aggregate is the one event-volume
    pass (partial+final; the summary table a production job persists);
    window fan-out multiplies SUMMARY rows (<= SLT_C + 1 per hour);
    the prune bounds (D_w, est_T) are per-window aggregates over
    summary rows; the exact verify semi-joins the fanned-out hour
    cells against broadcast candidates BEFORE its per-window
    aggregate; the fallback arm semi-joins cells against the (empty on
    healthy data) failing-window set. Heads are per-window rank
    windows over candidate-bounded rows."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    base = ev.select(
        F.expr("unix_micros(ts) div 3600000000").cast("long").alias("h"),
        F.col("user_id").cast("long").alias("user_id"))
    cells = pin(base.groupBy("h", "user_id")
                .agg(F.count("*").cast("long").alias("cnt")))
    hmax = pin(cells.agg(F.max("h").alias("hmax")))
    wexpr = f"sequence(h, least(h + {SW_HOURS - 1}, hmax))"
    wr = Window.partitionBy("h").orderBy(F.col("cnt").desc(), "user_id")
    ranked = cells.withColumn("rk", F.row_number().over(wr))
    kept = pin(ranked.filter(F.col("rk") <= SLT_C)
               .select("h", "user_id", "cnt"))
    errs = (ranked.filter(F.col("rk") == SLT_C + 1)
            .select("h", F.col("cnt").alias("e_h")))
    merged = pin(kept.crossJoin(F.broadcast(hmax))
                 .select(F.explode(F.expr(wexpr)).alias("w"),
                         "user_id", "cnt")
                 .groupBy("w", "user_id")
                 .agg(F.sum("cnt").cast("long").alias("est")))
    dw = (errs.crossJoin(F.broadcast(hmax))
          .select(F.explode(F.expr(wexpr)).alias("w"), "e_h")
          .groupBy("w").agg(F.sum("e_h").cast("long").alias("d")))
    wt = Window.partitionBy("w").orderBy(F.col("est").desc(), "user_id")
    est_t = (merged.withColumn("rt", F.row_number().over(wt))
             .filter(F.col("rt") <= SLT_TOP)
             .groupBy("w").agg(F.min("est").cast("long").alias("est_t"),
                               F.count("*").cast("long").alias("n_t")))
    bounds = pin(est_t.join(dw, "w", "left")
                 .select("w", "est_t", "n_t",
                         F.coalesce("d", F.lit(0)).cast("long")
                         .alias("d")))
    cand = (merged.join(bounds, "w")
            .filter(F.col("est") + F.col("d") >= F.col("est_t"))
            .select("w", "user_id"))
    fanned = (cells.crossJoin(F.broadcast(hmax))
              .select(F.explode(F.expr(wexpr)).alias("w"),
                      "user_id", "cnt"))
    # the full guard (the freq-items n_out/derr pair, per window): with
    # D_w = 0 summaries are complete and exact; otherwise the merged
    # head must be FULL (n_t == TOP) — a window summarizing fewer than
    # TOP users cannot exclude an unsummarized one — AND est_T > D_w so
    # no unsummarized user (f <= D_w) can reach the true top-T.
    passing = (F.col("d") == 0) | ((F.col("n_t") == SLT_TOP)
                                   & (F.col("est_t") > F.col("d")))
    pass_w = bounds.filter(passing).select("w")
    fail_w = bounds.filter(~passing).select("w")
    exact_pass = (fanned.join(pass_w, "w", "left_semi")
                  .join(cand, ["w", "user_id"], "left_semi")
                  .groupBy("w", "user_id")
                  .agg(F.sum("cnt").cast("long").alias("n_occ")))
    exact_fail = (fanned.join(fail_w, "w", "left_semi")
                  .groupBy("w", "user_id")
                  .agg(F.sum("cnt").cast("long").alias("n_occ")))
    heads = exact_pass.unionByName(exact_fail)
    wh = Window.partitionBy("w").orderBy(F.col("n_occ").desc(),
                                         "user_id")
    nh = (cells.select("h").distinct()
          .crossJoin(F.broadcast(hmax))
          .select(F.explode(F.expr(wexpr)).alias("w"))
          .groupBy("w").agg(F.count("*").cast("long").alias("n_hours")))
    return (heads.withColumn("rank", F.row_number().over(wh)
                             .cast("long"))
            .filter(F.col("rank") <= SLT_TOP)
            .join(nh, "w")
            .select(F.col("w").alias("window_hour"), "n_hours",
                    "rank", "user_id", "n_occ")
            .orderBy("window_hour", "rank"))


def _render_sliding_topk_oracle() -> None:
    REGISTRY["events_sliding_topk"].oracle = _sliding_topk_oracle()


_render_sliding_topk_oracle()
