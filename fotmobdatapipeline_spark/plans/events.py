"""Event-stream queries (batch semantics over the ``events`` table).

These are the batch twins of the Structured Streaming operators in
``streaming/`` — same windowing semantics (epoch-aligned tumbling/sliding
windows, 30-min-gap sessionization), expressed so the DuckDB oracle can
verify values.  The streaming module reuses the same column logic with
``readStream`` + watermarks; SURVEY.md §2 "Streaming".

Determinism: the events timestamps are µs precision; all window math is
integer µs arithmetic (``unix_micros`` / ``epoch_us``), and window starts
are emitted as strings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.lineage import share, truncate
from fotmobdatapipeline_spark.operators.abtest import EVENT_TYPES
from fotmobdatapipeline_spark.plans.catalog import register
from fotmobdatapipeline_spark.sources.registry import read_table

_DEC = "decimal(12,2)"


# --------------------------------------------------------------------------
# Tumbling 1-hour windows per event type.
# --------------------------------------------------------------------------
@register(
    "events_tumbling_hour",
    oracle="""
    SELECT CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "window-agg"),
)
def events_tumbling_hour(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.cast("string").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# --------------------------------------------------------------------------
# Sliding windows: 1 hour long, every 30 minutes (each event lands in 2).
# Oracle derives the two member windows with integer µs arithmetic.
# --------------------------------------------------------------------------
@register(
    "events_sliding_hour",
    oracle="""
    WITH member AS (
      SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS w, value
      FROM events
      UNION ALL
      SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000
                            - 1800000000) AS w, value
      FROM events
    )
    SELECT CAST(w AS VARCHAR) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM member
    GROUP BY 1
    """,
    tags=("events", "window-agg", "sliding"),
)
def events_sliding_hour(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").start.cast("string").alias("window_start")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# User-LTV deciles: users ranked by total purchase value into ten
# equal-count buckets, with each decile's share of total revenue — the
# whale-curve report.  User cardinality is DATA-scale (10^9 users at
# 100x), so the ranking never runs through a partition-less NTILE
# window (one executor sorting every user — the r9 VERDICT scale
# hazard): ranks come from the two-phase distributed prefix scan
# (operators/prefix.py — range shuffle + broadcast offsets) and the
# NTILE bucket is then pure integer arithmetic on (rank, N): the first
# N%10 buckets hold N div 10 + 1 users, the rest N div 10 — exactly
# SQL NTILE's definition, so values stay bit-identical to the oracle.
# Revenue per user is one combinable decimal aggregate over the scan.
# --------------------------------------------------------------------------
@register(
    "events_ltv_deciles",
    oracle="""
    WITH rev AS (
      SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    ranked AS (
      SELECT user_id, revenue,
             NTILE(10) OVER (ORDER BY revenue DESC, user_id ASC) AS decile
      FROM rev
    ),
    tot AS (SELECT SUM(CAST(revenue AS DECIMAL(14,2))) AS t FROM ranked)
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(revenue AS DECIMAL(14,2))) AS DOUBLE) AS decile_revenue,
           CAST(SUM(CAST(revenue AS DECIMAL(14,2))) AS DOUBLE)
             / CAST(t.t AS DOUBLE) AS revenue_share
    FROM ranked CROSS JOIN tot t GROUP BY decile, t.t
    """,
    tags=("events", "analytics", "window"),
    doc="Whale curve: users in LTV deciles with each decile's revenue share.",
)
def events_ltv_deciles(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.stats import exact_ntile

    ev = read_table(spark, sf_dir, "events")
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("revenue"))
    )
    # NTILE(10) under (revenue DESC, user_id ASC) via the shared
    # two-phase helper (operators/stats.exact_ntile) — distributed
    # ranks, integer bucket arithmetic, no partition-less window.
    ranked = exact_ntile(
        rev.withColumn("_neg_rev", -F.col("revenue")),
        ["_neg_rev", "user_id"],
        10,
        out_col="decile",
    ).drop("_neg_rev")
    tot = rev.agg(F.sum(F.col("revenue").cast("decimal(14,2)")).alias("t"))
    return (
        ranked.groupBy("decile")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.col("revenue").cast("decimal(14,2)")).cast("double").alias(
                "decile_revenue"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "decile_revenue",
            (F.col("decile_revenue") / F.col("t").cast("double")).alias(
                "revenue_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# Sessionization: 30-min inactivity gap, gaps-and-islands.
# --------------------------------------------------------------------------
# 30-min-gap sessionization shared by events_sessionize and
# events_session_stats: ONE definition of the gap constant and the
# gaps-and-islands assignment on each side (Spark builder + oracle CTE),
# so session semantics cannot silently diverge between entries.
SESSION_GAP_US = 1_800_000_000

_SQL_SESSION_NUMBERED = f"""
      SELECT user_id, event_id, event_type, tus,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT user_id, event_id, event_type, tus,
               CASE WHEN prev IS NULL OR tus - prev > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
                 LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                         ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev
          FROM events
        )
      )"""


def _session_numbered(ev):
    """(user_id, event_id, event_type, tus, session_id) — the
    gaps-and-islands session assignment (SQL twin:
    _SQL_SESSION_NUMBERED).  Per-user windows: partitioned on the
    natural key, never a global sort."""
    w = Window.partitionBy("user_id").orderBy(F.asc("tus"), F.asc("event_id"))
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn("tus", F.unix_micros("ts")).withColumn(
        "prev", F.lag("tus").over(w)
    ).withColumn(
        "is_new",
        F.when(
            F.col("prev").isNull()
            | ((F.col("tus") - F.col("prev")) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn("session_id", F.sum("is_new").over(w_run))


@register(
    "events_sessionize",
    oracle=f"""
    WITH numbered AS ({_SQL_SESSION_NUMBERED}
    ), sess AS (
      SELECT user_id, session_id, COUNT(*) AS n_ev,
             MAX(tus) - MIN(tus) AS dur_us
      FROM numbered GROUP BY user_id, session_id
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(MAX(dur_us) AS BIGINT) AS max_session_us
    FROM sess GROUP BY user_id
    """,
    tags=("events", "session", "window"),
)
def events_sessionize(spark: SparkSession, sf_dir: str):
    numbered = _session_numbered(read_table(spark, sf_dir, "events"))
    sess = numbered.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_ev"),
        (F.max("tus") - F.min("tus")).alias("dur_us"),
    )
    return sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_ev").alias("n_events"),
        F.max("dur_us").alias("max_session_us"),
    )


# --------------------------------------------------------------------------
# Native session windows (the streaming operator run in batch mode);
# oracle reproduces Spark's session semantics: [min_ts, max_ts + gap).
# Emitted as epoch-µs integers (string formats differ between engines).
# --------------------------------------------------------------------------
@register(
    "events_session_window",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev
      FROM events
    ), flagged AS (
      SELECT user_id, tus,
             CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM e
    ), numbered AS (
      SELECT user_id, tus,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(tus) AS BIGINT) AS session_start_us,
           CAST(MAX(tus) + 1800000000 AS BIGINT) AS session_end_us,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
    tags=("events", "session", "streaming-twin"),
)
def events_session_window(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.streaming.events import session_aggregate

    ev = read_table(spark, sf_dir, "events")
    return session_aggregate(ev).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


# --------------------------------------------------------------------------
# Latest event per user (streaming dedup-to-latest; row_number DESC).
# --------------------------------------------------------------------------
@register(
    "events_latest_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    ) WHERE rk = 1
    """,
    tags=("events", "window", "dedup"),
)
def events_latest_per_user(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


# --------------------------------------------------------------------------
# Semi-structured JSON props extraction (SURVEY §2 "JSON functions").
# --------------------------------------------------------------------------
@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    tags=("events", "json"),
)
def events_json_extract(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        (F.sum(k).cast("double") / F.count("*")).alias("avg_k"),
    )


# --------------------------------------------------------------------------
# As-of join: each purchase matched to the latest prior click of the
# same user.  Spark lacks a native as-of join; the scalable pattern is
# union + last_value(ignoreNulls) over a per-key time-ordered window —
# one shuffle on user_id, no range explosion.  (DuckDB has native
# ASOF JOIN, but its tie-breaking is unspecified; the oracle uses a
# deterministic correlated top-1 instead.)
# --------------------------------------------------------------------------
@register(
    "events_asof_join",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_event_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us,
           (SELECT c.event_id FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
            ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_event_id,
           (SELECT CAST(epoch_us(MAX(c.ts)) AS BIGINT) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts)
             AS click_ts_us
    FROM events p WHERE p.event_type = 'purchase'
    """,
    tags=("events", "asof-join"),
)
def events_asof_join(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").withColumn("tus", F.unix_micros("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "tus", "event_id", F.lit(0).alias("is_purchase")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "tus", "event_id", F.lit(1).alias("is_purchase")
    )
    both = clicks.unionByName(purchases)
    # clicks sort before purchases at equal ts (inclusive <= semantics);
    # among equal-ts clicks the larger event_id wins, matching the oracle.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("tus"), F.asc("is_purchase"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("is_purchase") == 0, F.col("tus"))
    click_id = F.when(F.col("is_purchase") == 0, F.col("event_id"))
    matched = both.select(
        "user_id",
        "tus",
        "event_id",
        "is_purchase",
        F.last(click_ts, ignorenulls=True).over(w).alias("click_ts_us"),
        F.last(click_id, ignorenulls=True).over(w).alias("click_event_id"),
    )
    return matched.filter(F.col("is_purchase") == 1).select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("tus").alias("purchase_ts_us"),
        "click_event_id",
        "click_ts_us",
    )


# --------------------------------------------------------------------------
# Pivot: daily event-type count matrix (SURVEY §2 "grouping/pivot").
# --------------------------------------------------------------------------
@register(
    "events_daily_pivot",
    oracle="""
    SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events
    GROUP BY 1
    """,
    tags=("events", "pivot"),
)
def events_daily_pivot(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


# --------------------------------------------------------------------------
# VARIANT (Spark 4): parse props once into the binary variant encoding,
# then extract typed fields.  Same answer as events_json_extract, but at
# scale the variant path parses each JSON document ONCE into a
# navigable binary form instead of re-parsing the string per
# get_json_object call — the difference between O(fields x parse) and
# O(parse + fields) per row.  The oracle uses DuckDB's JSON reader.
# --------------------------------------------------------------------------
@register(
    "events_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           COUNT(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50)
             AS n_high
    FROM events
    GROUP BY event_type
    """,
    tags=("events", "json", "variant"),
    doc="Spark 4 VARIANT field extraction; parse once, navigate binary.",
)
def events_variant_extract(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "bigint")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.max("k").alias("max_k"),
        F.min("k").alias("min_k"),
        F.count_if(F.col("k") >= 50).alias("n_high"),
    )


# --------------------------------------------------------------------------
# Forward-fill (gap-fill): sparse per-user sensor readings carried
# forward to every event — the time-series imputation operator.  Sparse
# values are manufactured deterministically (only 'purchase' events
# carry a reading); the fill is last(ignorenulls) over the per-user
# time-ordered window, partitioned by user so no global sort exists.
# --------------------------------------------------------------------------
@register(
    "events_forward_fill",
    oracle="""
    WITH src AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CASE WHEN event_type = 'purchase' THEN value END AS reading
      FROM events
    )
    SELECT event_id, user_id, ts_us,
           last_value(reading IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled,
           reading IS NULL AS was_gap
    FROM src
    """,
    tags=("events", "window", "gap-fill"),
    doc="Per-user forward-fill via last(ignorenulls) ordered window.",
)
def events_forward_fill(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    src = ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("reading"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return src.select(
        "event_id",
        "user_id",
        "ts_us",
        F.last("reading", ignorenulls=True).over(w).alias("filled"),
        F.col("reading").isNull().alias("was_gap"),
    )


# --------------------------------------------------------------------------
# Holt linear-trend forecast (double exponential smoothing, alpha =
# beta = 0.5) per user: the COUPLED recurrence level/trend is not a
# windowed sum, so it runs as a sequential struct fold over the user's
# ordered history — init (x1, 0), then l' = (x + l + t)/2,
# t' = (l' - l + t)/2; forecast_next = l + t.  With dyadic smoothing
# constants every step is adds plus an exponent shift executed in the
# same order by both engines, so values are bit-identical.  Oracle
# note: DuckDB v1.0's list_reduce mis-evaluates STRUCT accumulators on
# the third step (verified empirically: trend drifts while level stays
# right), so the oracle folds a 2-element DOUBLE LIST accumulator
# instead — same arithmetic, correct engine path.  Scale shape: one
# shuffle (groupBy user); per-user history bounded by the events-per-
# user cardinality — for unbounded histories the streaming twin keeps
# (l, t) as running state instead.
# --------------------------------------------------------------------------
@register(
    "events_holt_forecast",
    oracle="""
    WITH g AS (
      SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY event_id) AS vs
      FROM events GROUP BY user_id
    ),
    f AS (
      SELECT user_id,
        list_reduce(
          list_transform(vs, v -> [v, CAST(0 AS DOUBLE)]),
          (a, s) -> [
             (s[1] + a[1] + a[2]) * CAST(0.5 AS DOUBLE),
             (((s[1] + a[1] + a[2]) * CAST(0.5 AS DOUBLE)) - a[1] + a[2])
               * CAST(0.5 AS DOUBLE)
          ]) AS st
      FROM g
    )
    SELECT user_id, st[1] AS holt_level, st[2] AS holt_trend,
           st[1] + st[2] AS forecast_next
    FROM f
    """,
    tags=("events", "time-series", "forecast"),
    doc="Per-user Holt linear-trend forecast via sequential fold, bit-exact.",
)
def events_holt_forecast(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    arr0 = F.array_sort(
        F.collect_list(F.struct("event_id", F.col("value").cast("double").alias("v")))
    )
    arr = F.transform(arr0, lambda s: F.struct(s["v"].alias("l"), F.lit(0.0).alias("t")))
    g = ev.groupBy("user_id").agg(arr.alias("arr"))
    init = F.element_at(F.col("arr"), 1)
    rest = F.slice(F.col("arr"), 2, F.greatest(F.size("arr") - 1, F.lit(0)))

    def step(a, s):
        lnew = (s["l"] + a["l"] + a["t"]) * F.lit(0.5)
        return F.struct(
            lnew.alias("l"), ((lnew - a["l"] + a["t"]) * F.lit(0.5)).alias("t")
        )

    st = F.aggregate(rest, init, step)
    return g.select(
        "user_id",
        st["l"].alias("holt_level"),
        st["t"].alias("holt_trend"),
        (st["l"] + st["t"]).alias("forecast_next"),
    )


# --------------------------------------------------------------------------
# Exponentially weighted moving average (pandas ewm adjust=True
# semantics, decay 0.5) over a trailing 10-row frame per user — the
# smoothing operator time-series monitoring needs next to z-score and
# forward-fill.  Exactness: the weighted sum is a SEQUENTIAL left fold
# a*0.5 + v over the frame list (collect_list over a rows-frame window
# preserves frame order), so every step is either an IEEE exponent
# shift (a*0.5, exact) or one double add executed in the same order by
# both engines; the normalizer 2*(1-0.5^m) is a dyadic rational.  The
# frame cap (W=10) bounds state per row; weights below 0.5^10 ≈ 1e-3
# are dropped by construction rather than truncated inconsistently.
# NULL values: Spark's collect_list silently drops NULL elements, so
# the oracle's windowed list() carries the matching FILTER — both
# engines compute over the frame's non-null values, and an all-null
# frame is guarded to NULL on both sides (Spark's empty array vs
# DuckDB's NULL list both fail the >0 length test; unguarded it would
# be an ANSI DIVIDE_BY_ZERO on the Spark side).  Verified empirically
# with a null-heavy synthetic table: 0 mismatches including the
# all-null-user edge.
# Scale shape: one shuffle on user_id, no join, no UDF.
# --------------------------------------------------------------------------
_EWM_W = 10


@register(
    "events_ewm_value",
    oracle=f"""
    WITH fr AS (
      SELECT event_id, user_id,
             list(CAST(value AS DOUBLE))
               FILTER (WHERE value IS NOT NULL) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN {_EWM_W - 1} PRECEDING AND CURRENT ROW) AS vs
      FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN len(vs) > 0 THEN
             list_reduce(list_prepend(CAST(0 AS DOUBLE), vs),
                         (a, b) -> a * CAST(0.5 AS DOUBLE) + b)
               / (CAST(2 AS DOUBLE)
                  * (CAST(1 AS DOUBLE) - pow(CAST(0.5 AS DOUBLE), len(vs))))
           END AS ewm_value
    FROM fr
    """,
    tags=("events", "window", "time-series"),
    doc="Per-user trailing EWMA via sequential fold, bit-exact both engines.",
)
def events_ewm_value(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-(_EWM_W - 1), 0)
    vals = F.collect_list(F.col("value").cast("double")).over(w)
    fold = F.aggregate(vals, F.lit(0.0), lambda a, b: a * F.lit(0.5) + b)
    norm = F.lit(2.0) * (F.lit(1.0) - F.pow(F.lit(0.5), F.size(vals).cast("double")))
    # Empty frame (every value in the window NULL) → NULL, matching the
    # oracle's CASE; an unguarded 0/0 would raise under ANSI mode.
    ewm = F.when(F.size(vals) > 0, fold / norm)
    return ev.select("event_id", "user_id", ewm.alias("ewm_value"))


# --------------------------------------------------------------------------
# Cumulative distinct count: distinct event types seen so far per user —
# the "new vs returning behavior" running metric.  Exact distinct over a
# running window is quadratic done naively; the scalable form flags each
# row that is the FIRST occurrence of its (user, type) (one row_number
# over the composite key) and running-sums the flag — two per-user
# windows, no self-join, no quadratic frame.
# --------------------------------------------------------------------------
@register(
    "events_cumulative_distinct",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id
             ) = 1 THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT event_id, user_id, ts_us,
           CAST(SUM(first_seen) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS INT) AS distinct_types_so_far
    FROM flagged
    """,
    tags=("events", "window", "distinct"),
    doc="Running distinct count via first-seen flag + running sum.",
)
def events_cumulative_distinct(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.withColumn(
        "first_seen", F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
    )
    return flagged.select(
        "event_id",
        "user_id",
        "ts_us",
        F.sum("first_seen").over(w_run).cast("int").alias("distinct_types_so_far"),
    )


# --------------------------------------------------------------------------
# Interval union (gaps-and-islands with *durations*): each event spans
# [ts, ts + (event_id % 7 + 1) minutes); merge overlapping/adjacent
# intervals per user.  Unlike events_sessionize (fixed gap between point
# events), a long early interval can bridge gaps that would split
# sessions — the running-max-of-ends form is the general interval merge.
# One window partitioned by user (scales: per-user data is small), all
# math in integer µs.
# --------------------------------------------------------------------------
@register(
    "events_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS start_us,
             epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS end_us,
             event_id
      FROM events
    ),
    flagged AS (
      SELECT user_id, start_us, end_us,
             CASE WHEN start_us > COALESCE(MAX(end_us) OVER (
                    PARTITION BY user_id ORDER BY start_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS is_new,
             event_id
      FROM iv
    ),
    islands AS (
      SELECT user_id, start_us, end_us,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY start_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           MIN(start_us) AS island_start_us, MAX(end_us) AS island_end_us,
           COUNT(*) AS n_events
    FROM islands GROUP BY user_id, island
    """,
    tags=("events", "intervals", "window"),
    doc="Merge overlapping per-user intervals via running max of ends.",
)
def events_interval_merge(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    start_us = F.unix_micros("ts")
    iv = ev.select(
        "user_id",
        start_us.alias("start_us"),
        (start_us + (F.col("event_id") % 7 + 1) * 60_000_000).alias("end_us"),
        "event_id",
    )
    order = Window.partitionBy("user_id").orderBy("start_us", "event_id")
    prev_max_end = F.max("end_us").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "is_new",
        (F.col("start_us") > F.coalesce(prev_max_end, F.lit(-1)))
        .cast("int"),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("is_new").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("start_us").alias("island_start_us"),
        F.max("end_us").alias("island_end_us"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Ordered funnel: view -> click -> purchase with STRICT temporal order
# per user (a click only counts after that user's first view; a purchase
# only after that user's first qualifying click).  Three type-filtered
# passes — each filter reaches the scan — then hint-free user-keyed
# equi-joins of the per-user step frontiers (user cardinality can be
# billions at 100 TB, so no mandatory broadcast; AQE broadcasts when the
# runtime frontier is small); output is one row of exact step counts
# plus conversion ratios (one double division each).  No window, no UDF.
# --------------------------------------------------------------------------
@register(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS step1_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS step2_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS step3_users,
           CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM v) AS DOUBLE) AS rate_12,
           CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM c) AS DOUBLE) AS rate_23
    """,
    tags=("events", "funnel", "analytics"),
    doc="Strictly-ordered view->click->purchase funnel conversion counts.",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    return funnel_conversion(ev)


def funnel_conversion(ev, steps=("view", "click", "purchase")):
    """The funnel proper (also exercised on hand-built frames in tests):
    strict ordered three-step conversion over (user_id, event_type, ts)."""
    s1, s2, s3 = steps
    # Each step frontier has TWO consumers (the next step's join and its
    # own count), and the count-only consumer prunes the min(ts) column
    # away — the two aggregate subtrees then canonicalize differently,
    # ReusedExchange does NOT fire, and the plan scanned the events
    # table SIX times instead of three (r14 scan audit).  A lazy
    # checkpoint per frontier makes every consumer read one persisted
    # narrow (user, ts) frame: one type-filtered scan per step at any
    # scale.
    v = (
        ev.filter(F.col("event_type") == s1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .transform(share)
    )
    c = (
        ev.filter(F.col("event_type") == s2)
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .transform(share)
    )
    p = (
        ev.filter(F.col("event_type") == s3)
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    n1 = v.agg(F.count("*").alias("step1_users"))
    n2 = c.agg(F.count("*").alias("step2_users"))
    n3 = p.agg(F.count("*").alias("step3_users"))
    return (
        n1.crossJoin(n2)
        .crossJoin(n3)
        .select(
            "step1_users",
            "step2_users",
            "step3_users",
            (
                F.col("step2_users").cast("double")
                / F.col("step1_users").cast("double")
            ).alias("rate_12"),
            (
                F.col("step3_users").cast("double")
                / F.col("step2_users").cast("double")
            ).alias("rate_23"),
        )
    )


# --------------------------------------------------------------------------
# Cohort retention: users grouped by FIRST-active day, tracked across
# day offsets — the standard growth-analytics matrix (and the shape
# behind data-freshness audits on a training-event feed).  All exact
# integers until the one retention-rate division; the (user, day)
# activity table is checkpointed once for its two consumers (cohort
# assignment + activity join).  Per-user min is map-side combinable;
# no window anywhere.
# --------------------------------------------------------------------------
@register(
    "events_retention_cohorts",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS d
      FROM events
    ),
    first AS (SELECT user_id, MIN(d) AS cohort_day FROM act GROUP BY user_id),
    ret AS (
      SELECT f.cohort_day, CAST(a.d - f.cohort_day AS INT) AS day_offset,
             COUNT(*) AS n_users
      FROM act a JOIN first f ON a.user_id = f.user_id
      GROUP BY 1, 2
    ),
    base AS (SELECT cohort_day, n_users AS cohort_size FROM ret WHERE day_offset = 0)
    SELECT r.cohort_day AS cohort_day, r.day_offset AS day_offset,
           r.n_users AS n_users, b.cohort_size AS cohort_size,
           CAST(r.n_users AS DOUBLE) / b.cohort_size AS retention_rate
    FROM ret r JOIN base b ON r.cohort_day = b.cohort_day
    """,
    tags=("events", "retention", "analytics"),
    doc="Cohort retention matrix: first-active-day cohorts across day offsets.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    act = (
        ev.select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
        )
        .distinct()
        .transform(share)
    )
    first = act.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    ret = (
        act.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).cast("int").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
        .transform(share)
    )
    base = ret.filter(F.col("day_offset") == 0).select(
        "cohort_day", F.col("n_users").alias("cohort_size")
    )
    return ret.join(base, "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_users",
        "cohort_size",
        (F.col("n_users").cast("double") / F.col("cohort_size")).alias(
            "retention_rate"
        ),
    )


# --------------------------------------------------------------------------
# Windowed top-k: the k busiest event types per hour — the standard
# streaming-analytics leaderboard shape (tumbling window + per-window
# ranked truncation).  The rank window partitions by TIME BUCKET, whose
# row count is bounded by the distinct event types — skew-safe at any
# corpus size; ties break on event_type so the cut is total.
# --------------------------------------------------------------------------
@register(
    "events_windowed_topk",
    oracle="""
    WITH c AS (
      SELECT CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS window_start,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                   ORDER BY n_events DESC, event_type ASC) AS rk
      FROM c
    ) WHERE rk <= 3
    """,
    tags=("events", "window-agg", "topk"),
    doc="Top-3 event types per tumbling hour.",
)
def events_windowed_topk(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.window("ts", "1 hour").start.cast("string").alias("window_start"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "window_start", "event_type", "n_events",
            F.col("rk").cast("int").alias("rk"),
        )
    )


# --------------------------------------------------------------------------
# Event-type transition matrix: per-user consecutive event-type bigrams
# (ordered by ts, event_id tiebreak) summed corpus-wide — the Markov
# view behind funnel design and next-event prediction features.  The
# lag window partitions by USER (bounded by a user's own history); the
# matrix aggregate is map-side combinable.
# --------------------------------------------------------------------------
@register(
    "events_type_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
    tags=("events", "window", "markov"),
    doc="Corpus-wide event-type transition counts from per-user lag.",
)
def events_type_transitions(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


# --------------------------------------------------------------------------
# Robust time-series anomaly flags: hourly event-rate outliers per type
# by the exact lower-median/MAD rule (the quality_length_outliers
# doctrine — no float quantiles, no distribution assumption).  Scale
# shape: the raw stream collapses to (type, hour) counts in ONE
# map-side-combinable aggregate; the median/MAD windows then run on the
# aggregated table (|types| x |hours| rows — bounded by the calendar,
# not the event volume), so nothing event-sized ever hits a window.
# --------------------------------------------------------------------------
@register(
    "events_anomaly_mad",
    oracle="""
    WITH hrs AS (
      SELECT event_type, CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS window_start,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, n_events AS med FROM (
        SELECT event_type, n_events,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY n_events, window_start) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM hrs
      ) WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
    ),
    dev AS (
      SELECT h.event_type, h.window_start, h.n_events, m.med,
             abs(h.n_events - m.med) AS adev
      FROM hrs h JOIN med m ON h.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, adev AS mad FROM (
        SELECT event_type, adev,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY adev, window_start) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
      ) WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
    )
    SELECT d.event_type, d.window_start, d.n_events, d.med, m.mad,
           (d.adev > 3 * m.mad) AS is_anomaly
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    """,
    tags=("events", "window-agg", "audit"),
    doc="Hourly event-rate anomalies per type: exact lower-median/MAD rule.",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    # The hourly aggregate is the only subtree that touches raw events;
    # it feeds the median, the deviation join, and the final projection,
    # so checkpoint it (calendar-bounded rows) — ONE events scan total.
    # Same for dev, which feeds both the MAD median and the output.
    hrs = (
        ev.groupBy(
            "event_type",
            F.window("ts", "1 hour").start.cast("string").alias("window_start"),
        )
        .agg(F.count("*").alias("n_events"))
        .transform(share)
    )

    def lower_median(df, val_col, out_col):
        w = Window.partitionBy("event_type").orderBy(val_col, "window_start")
        wn = Window.partitionBy("event_type")
        return (
            df.withColumn("rk", F.row_number().over(w))
            .withColumn("n", F.count("*").over(wn))
            .filter(F.col("rk") == F.ceil(F.col("n") / F.lit(2.0)).cast("bigint"))
            .select("event_type", F.col(val_col).alias(out_col))
        )

    med = lower_median(hrs, "n_events", "med")
    dev = (
        hrs.join(med, "event_type")
        .withColumn("adev", F.abs(F.col("n_events") - F.col("med")))
        .transform(share)
    )
    mad = lower_median(dev, "adev", "mad")
    return dev.join(mad, "event_type").select(
        "event_type",
        "window_start",
        "n_events",
        "med",
        "mad",
        (F.col("adev") > 3 * F.col("mad")).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# Distribution-drift monitor: today's event-type mix vs a pinned
# baseline snapshot — the alarm that catches an upstream producer
# silently changing shape (schema drift's statistical sibling).  The
# baseline is a frozen reference dir (the sf0.001 snapshot), read
# through the same normalizing reader; each side collapses to
# #event-types rows in one combinable aggregate, so the compare costs
# nothing at any scale.  Shares are single exact-integer divisions;
# deltas one subtraction — deterministic cross-engine, no ln-based
# PSI (not bit-portable); consumers threshold |share_delta| directly.
# --------------------------------------------------------------------------
# Resolvable (ADVICE r5): the pinned baseline snapshot dir comes from
# SPARK_GRAFT_BASELINE_DIR when set, else <testdata root>/sf0.001
# derived from SPARK_GRAFT_SF_DIR, else the historical default — the
# only catalog entries with a second data root, so the env hook keeps
# the sweep/parity suite portable to machines with other layouts.
_DRIFT_BASELINE_DIR = os.environ.get(
    "SPARK_GRAFT_BASELINE_DIR",
    os.path.join(
        os.path.dirname(
            os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
        ),
        "sf0.001",
    ),
)


@register(
    "drift_event_type_shares",
    oracle=f"""
    WITH cur AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cur FROM events
      GROUP BY 1
    ),
    base AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_base
      FROM read_parquet('{_DRIFT_BASELINE_DIR}/events.parquet')
      GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT SUM(n_cur) FROM cur) AS tc,
             (SELECT SUM(n_base) FROM base) AS tb
    )
    SELECT COALESCE(c.event_type, b.event_type) AS event_type,
           COALESCE(b.n_base, 0) AS n_base,
           COALESCE(c.n_cur, 0) AS n_cur,
           CAST(COALESCE(b.n_base, 0) AS DOUBLE) / CAST(t.tb AS DOUBLE)
             AS share_base,
           CAST(COALESCE(c.n_cur, 0) AS DOUBLE) / CAST(t.tc AS DOUBLE)
             AS share_cur,
           CAST(COALESCE(c.n_cur, 0) AS DOUBLE) / CAST(t.tc AS DOUBLE)
             - CAST(COALESCE(b.n_base, 0) AS DOUBLE) / CAST(t.tb AS DOUBLE)
             AS share_delta
    FROM cur c FULL OUTER JOIN base b ON c.event_type = b.event_type
    CROSS JOIN tot t
    """,
    tags=("events", "dq", "drift", "audit"),
    doc="Event-type mix vs the pinned baseline snapshot: shares and deltas per type.",
)
def drift_event_type_shares(spark: SparkSession, sf_dir: str):
    # Lazy checkpoints (r15): each side's total is a rollup of its
    # event-type-sized count frame, but the differing column demand kept
    # stage reuse from firing (runtime audit: 4 events scans for 2
    # tables).  The frames are tiny (one row per event type); one
    # checkpoint each halves the scans.  Integer sums regrouped: exact.
    cur = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_cur"))
        .transform(share)
    )
    base = (
        read_table(spark, _DRIFT_BASELINE_DIR, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_base"))
        .transform(share)
    )
    tc = cur.agg(F.sum("n_cur").alias("tc"))
    tb = base.agg(F.sum("n_base").alias("tb"))
    j = (
        cur.join(base, "event_type", "full")
        .crossJoin(F.broadcast(tc))
        .crossJoin(F.broadcast(tb))
    )
    share_base = F.coalesce("n_base", F.lit(0)).cast("double") / F.col("tb").cast(
        "double"
    )
    share_cur = F.coalesce("n_cur", F.lit(0)).cast("double") / F.col("tc").cast(
        "double"
    )
    return j.select(
        "event_type",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        share_base.alias("share_base"),
        share_cur.alias("share_cur"),
        (share_cur - share_base).alias("share_delta"),
    )


# --------------------------------------------------------------------------
# Numeric-drift monitor: exact two-sample Kolmogorov-Smirnov statistic
# between today's `value` distribution and the pinned baseline snapshot
# — the value-distribution sibling of the share-drift entry.  All the
# work is integer-exact: per-value counts (combinable), cumulative
# counts via the two-phase distributed prefix sum (operators/prefix.py
# — no partition-less window over the distinct-value stream), and the
# sup-distance as max |cumA*NB - cumB*NA| in integers; ONE double
# division at the end produces D.  Cross-multiplication keeps every
# comparison exact; at extreme scale (counts beyond ~3e9 per side) the
# products need DECIMAL — swap the casts, the shape is unchanged.
# --------------------------------------------------------------------------
@register(
    "drift_value_ks",
    oracle=f"""
    WITH cur AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS nc FROM events GROUP BY 1),
    base AS (
      SELECT value, CAST(COUNT(*) AS BIGINT) AS nb
      FROM read_parquet('{_DRIFT_BASELINE_DIR}/events.parquet') GROUP BY 1
    ),
    m AS (
      SELECT COALESCE(c.value, b.value) AS v,
             COALESCE(c.nc, 0) AS nc, COALESCE(b.nb, 0) AS nb
      FROM cur c FULL OUTER JOIN base b ON c.value = b.value
    ),
    cum AS (
      SELECT v, SUM(nc) OVER (ORDER BY v) AS cnc, SUM(nb) OVER (ORDER BY v) AS cnb
      FROM m
    ),
    tot AS (SELECT (SELECT SUM(nc) FROM m) AS nct, (SELECT SUM(nb) FROM m) AS nbt)
    SELECT CAST(t.nct AS BIGINT) AS n_cur, CAST(t.nbt AS BIGINT) AS n_base,
           CAST(MAX(ABS(c.cnc * t.nbt - c.cnb * t.nct)) AS BIGINT) AS d_num,
           CAST(MAX(ABS(c.cnc * t.nbt - c.cnb * t.nct)) AS DOUBLE)
             / (CAST(t.nct AS DOUBLE) * CAST(t.nbt AS DOUBLE)) AS ks
    FROM cum c CROSS JOIN tot t GROUP BY t.nct, t.nbt
    """,
    tags=("events", "dq", "drift", "audit", "stats"),
    doc="Exact two-sample KS statistic vs the baseline snapshot (integer sup-distance).",
)
def drift_value_ks(spark: SparkSession, sf_dir: str):

    cur = (
        read_table(spark, sf_dir, "events")
        .groupBy("value")
        .agg(F.count("*").alias("nc"))
    )
    base = (
        read_table(spark, _DRIFT_BASELINE_DIR, "events")
        .groupBy("value")
        .agg(F.count("*").alias("nb"))
    )
    m = (
        cur.join(base, "value", "full")
        .select(
            F.col("value").alias("v"),
            F.coalesce("nc", F.lit(0)).alias("nc"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
        .transform(share)
    )
    # ONE two-phase scan for both cumulative columns (r14): the chained
    # single-column form paid the range shuffle + sort + offsets twice
    # over the same (v)-ordered rows for bit-identical sums.
    from fotmobdatapipeline_spark.operators.prefix import grouped_running_sums

    cum = grouped_running_sums(m, [], ["v"], ["nc", "nb"], ["cnc", "cnb"])
    tot = m.agg(
        F.sum("nc").alias("nct"), F.sum("nb").alias("nbt")
    )
    j = cum.crossJoin(F.broadcast(tot))
    d = F.abs(F.col("cnc") * F.col("nbt") - F.col("cnb") * F.col("nct"))
    return j.groupBy("nct", "nbt").agg(F.max(d).alias("d_num")).select(
        F.col("nct").alias("n_cur"),
        F.col("nbt").alias("n_base"),
        F.col("d_num"),
        (
            F.col("d_num").cast("double")
            / (F.col("nct").cast("double") * F.col("nbt").cast("double"))
        ).alias("ks"),
    )


# --------------------------------------------------------------------------
# Time-decayed (half-life) popularity: each event contributes
# 0.5^(age in days) to its type's score, so yesterday's burst counts
# half of today's — the trending/recency signal feed ranking and
# mixture recency-weighting use.  Scale shape: the raw table collapses
# to per-(type, day) counts in ONE map-side-combinable aggregate (the
# stored partial a nightly job maintains — merging a new day is an
# append plus re-fold over this tiny table, never a rescan of events),
# and the decay weighting runs on that type*days-bounded frame.
# Bit-portability: day index is integer µs arithmetic; each term is
# cnt * 0.5^age — an exponent shift of an exact integer, exact in
# double until subnormal ages (~1022 half-lives; underflow is exact 0.0
# on both engines) — folded in ascending-day order, and pow(0.5, n) on
# integer n is exact everywhere (the events_ewm_value precedent).
# --------------------------------------------------------------------------
@register(
    "events_decayed_popularity",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), mx AS (SELECT MAX(day) AS max_day FROM daily),
    terms AS (
      SELECT event_type, day, cnt,
             CAST(cnt AS DOUBLE)
               * pow(CAST(0.5 AS DOUBLE), CAST(max_day - day AS DOUBLE)) AS term
      FROM daily, mx
    )
    SELECT event_type,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS INT) AS n_days,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                    list(term ORDER BY day, event_type)),
                       (a, b) -> a + b) AS decayed_score
    FROM terms
    GROUP BY event_type
    """,
    tags=("events", "time-series", "decay", "mergeable"),
    doc="Half-life-decayed popularity per type from mergeable per-day counts.",
)
def events_decayed_popularity(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.expr("unix_micros(ts) div 86400000000").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(F.count("*").alias("cnt"))
    mx = daily.agg(F.max("day").alias("max_day"))
    terms = daily.crossJoin(F.broadcast(mx)).select(
        "event_type",
        "day",
        "cnt",
        (
            F.col("cnt").cast("double")
            * F.pow(F.lit(0.5), (F.col("max_day") - F.col("day")).cast("double"))
        ).alias("term"),
    )
    # (day, term) structs sort by day first — day is unique per type, so
    # the fold order is total and both engines add in the same sequence.
    folded = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "term"))),
            lambda s: s["term"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return terms.groupBy("event_type").agg(
        F.sum("cnt").alias("n_events"),
        F.count("*").cast("int").alias("n_days"),
        folded.alias("decayed_score"),
    )


# --------------------------------------------------------------------------
# Two-proportion A/B z-test: users hash-split into variants (the same
# portable md5 assignment the leakage-safe splits use), conversion =
# a big-ticket purchase (value > 150 — every user makes SOME purchase
# at this event density, so the plain flag would be degenerate pooled=1
# and the z-stat undefined; the CASE guard returns NULL z in that
# degenerate case), and the pooled two-proportion z statistic
# computed from exact integer counts in ONE fixed expression tree.
# Bit-portability: /, sqrt are IEEE correctly-rounded in both engines,
# so identical operand order => identical bits; every literal is CAST
# to DOUBLE on the DuckDB side (bare 0.5 parses as DECIMAL there).
# Scale shape: one groupBy(user) conversion flag (map-side combinable),
# one conditional 1-row aggregate — no window, no join; the z math runs
# on four integers.
# --------------------------------------------------------------------------
def _ab_variant():
    """Portable md5 user->variant assignment shared by every A/B entry
    (the SQL twin is _sql_hex32_ab) — delegates to the canonical
    operators/abtest.ab_variant so batch entries and streaming twins
    share ONE definition of the split."""
    from fotmobdatapipeline_spark.operators.abtest import ab_variant

    return ab_variant()


def _sql_hex32_ab(col: str) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )


def _event_span_mid(ev_all):
    """Integer-µs midpoint of the FULL (unfiltered) event span — ONE
    definition of the pre/post boundary shared by events_cuped_adjusted
    and events_did_estimate, matching both oracles' ``bnd`` CTE which is
    over the unfiltered events table (ADVICE r9: computing the span over
    purchase rows only silently shifts the boundary on general data —
    the sf0.01 fixture masked it because no purchase fell between the
    two candidate midpoints).  Returns a 1-row (mid BIGINT) frame,
    broadcastable by construction."""
    return ev_all.select(F.unix_micros("ts").alias("_tus")).agg(
        F.expr("(MIN(_tus) + MAX(_tus)) div 2").alias("mid")
    )


@register(
    "events_ab_ztest",
    oracle=f"""
    WITH pu AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT conv,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM pu
    ),
    t AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
      FROM v
    ),
    r AS (
      SELECT n_a, c_a, n_b, c_b,
             CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
             CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
             CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pooled
      FROM t
    ),
    z AS (
      SELECT n_a, c_a, n_b, c_b, rate_a, rate_b,
             CASE WHEN pooled > CAST(0 AS DOUBLE) AND pooled < CAST(1 AS DOUBLE)
               THEN (rate_a - rate_b) / sqrt(
                 (pooled * (CAST(1 AS DOUBLE) - pooled))
                 * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                    + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))
               ) END AS z_stat
      FROM r
    )
    SELECT n_a, c_a, n_b, c_b, rate_a, rate_b, z_stat,
           abs(z_stat) > CAST(1.96 AS DOUBLE) AS significant
    FROM z
    """,
    tags=("events", "stats", "abtest"),
    doc="Hash-split two-proportion z-test on purchase conversion; bit-exact.",
)
def events_ab_ztest(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("value") > 150)).cast(
                "int"
            )
        ).alias("conv")
    )
    variant = _ab_variant()
    v = pu.select("conv", variant.alias("variant"))
    is_a = (F.col("variant") == 0).cast("long")
    is_b = (F.col("variant") == 1).cast("long")
    t = v.agg(
        F.sum(is_a).alias("n_a"),
        F.sum(F.col("conv") * is_a).alias("c_a"),
        F.sum(is_b).alias("n_b"),
        F.sum(F.col("conv") * is_b).alias("c_b"),
    )
    r = t.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        (F.col("c_a").cast("double") / F.col("n_a").cast("double")).alias("rate_a"),
        (F.col("c_b").cast("double") / F.col("n_b").cast("double")).alias("rate_b"),
        (
            (F.col("c_a") + F.col("c_b")).cast("double")
            / (F.col("n_a") + F.col("n_b")).cast("double")
        ).alias("pooled"),
    )
    z = r.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        "rate_a",
        "rate_b",
        F.when(
            (F.col("pooled") > F.lit(0.0)) & (F.col("pooled") < F.lit(1.0)),
            (F.col("rate_a") - F.col("rate_b"))
            / F.sqrt(
                (F.col("pooled") * (F.lit(1.0) - F.col("pooled")))
                * (
                    F.lit(1.0) / F.col("n_a").cast("double")
                    + F.lit(1.0) / F.col("n_b").cast("double")
                )
            ),
        ).alias("z_stat"),
    )
    return z.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        "rate_a",
        "rate_b",
        "z_stat",
        (F.abs(F.col("z_stat")) > F.lit(1.96)).alias("significant"),
    )


# --------------------------------------------------------------------------
# Welch's t-test on purchase VALUE between the same hash variants: the
# mean-difference sibling of events_ab_ztest.  Sufficient statistics
# (n, sum, sum-of-squares) are exact DECIMAL — values are 2-dp so
# squares are exactly 4-dp — making the aggregates order-insensitive;
# mean/variance/t/dof then evaluate in ONE fixed IEEE tree (/, *, sqrt
# correctly-rounded in both engines).  Same scale shape as the z-test:
# one combinable aggregate, no window, no join.
# --------------------------------------------------------------------------
@register(
    "events_welch_ttest",
    oracle=f"""
    WITH p AS (
      SELECT value,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             SUM(CASE WHEN variant = 0 THEN CAST(value AS DECIMAL(12,2)) END) AS s1_a,
             SUM(CASE WHEN variant = 0 THEN CAST(value AS DECIMAL(12,2))
                                            * CAST(value AS DECIMAL(12,2)) END) AS s2_a,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             SUM(CASE WHEN variant = 1 THEN CAST(value AS DECIMAL(12,2)) END) AS s1_b,
             SUM(CASE WHEN variant = 1 THEN CAST(value AS DECIMAL(12,2))
                                            * CAST(value AS DECIMAL(12,2)) END) AS s2_b
      FROM p
    ),
    m AS (
      SELECT n_a, n_b,
             CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
             CAST(s1_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
             (CAST(s2_a AS DOUBLE)
              - (CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE)) / CAST(n_a AS DOUBLE))
               / CAST(n_a - 1 AS DOUBLE) AS var_a,
             (CAST(s2_b AS DOUBLE)
              - (CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE)) / CAST(n_b AS DOUBLE))
               / CAST(n_b - 1 AS DOUBLE) AS var_b
      FROM t
    ),
    se AS (
      SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
             var_a / CAST(n_a AS DOUBLE) AS g_a,
             var_b / CAST(n_b AS DOUBLE) AS g_b
      FROM m
    )
    SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
           (mean_a - mean_b) / sqrt(g_a + g_b) AS t_stat,
           ((g_a + g_b) * (g_a + g_b))
             / ((g_a * g_a) / CAST(n_a - 1 AS DOUBLE)
                + (g_b * g_b) / CAST(n_b - 1 AS DOUBLE)) AS welch_dof
    FROM se
    """,
    tags=("events", "stats", "abtest"),
    doc="Welch t-test on purchase value between hash variants; bit-exact.",
)
def events_welch_ttest(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    variant = _ab_variant()
    p = ev.select(F.col("value").cast("decimal(12,2)").alias("v"), variant.alias("variant"))
    is_a = F.col("variant") == 0
    is_b = F.col("variant") == 1
    t = p.agg(
        F.sum(is_a.cast("long")).alias("n_a"),
        F.sum(F.when(is_a, F.col("v"))).alias("s1_a"),
        F.sum(F.when(is_a, F.col("v") * F.col("v"))).alias("s2_a"),
        F.sum(is_b.cast("long")).alias("n_b"),
        F.sum(F.when(is_b, F.col("v"))).alias("s1_b"),
        F.sum(F.when(is_b, F.col("v") * F.col("v"))).alias("s2_b"),
    )
    m = t.select(
        "n_a",
        "n_b",
        (F.col("s1_a").cast("double") / F.col("n_a").cast("double")).alias("mean_a"),
        (F.col("s1_b").cast("double") / F.col("n_b").cast("double")).alias("mean_b"),
        (
            (
                F.col("s2_a").cast("double")
                - (F.col("s1_a").cast("double") * F.col("s1_a").cast("double"))
                / F.col("n_a").cast("double")
            )
            / (F.col("n_a") - 1).cast("double")
        ).alias("var_a"),
        (
            (
                F.col("s2_b").cast("double")
                - (F.col("s1_b").cast("double") * F.col("s1_b").cast("double"))
                / F.col("n_b").cast("double")
            )
            / (F.col("n_b") - 1).cast("double")
        ).alias("var_b"),
    )
    se = m.select(
        "*",
        (F.col("var_a") / F.col("n_a").cast("double")).alias("g_a"),
        (F.col("var_b") / F.col("n_b").cast("double")).alias("g_b"),
    )
    return se.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "var_a",
        "var_b",
        ((F.col("mean_a") - F.col("mean_b")) / F.sqrt(F.col("g_a") + F.col("g_b"))).alias(
            "t_stat"
        ),
        (
            ((F.col("g_a") + F.col("g_b")) * (F.col("g_a") + F.col("g_b")))
            / (
                (F.col("g_a") * F.col("g_a")) / (F.col("n_a") - 1).cast("double")
                + (F.col("g_b") * F.col("g_b")) / (F.col("n_b") - 1).cast("double")
            )
        ).alias("welch_dof"),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) on purchase value between the hash
# variants: the nonparametric sibling of events_welch_ttest.  Ranks are
# exact rank ARITHMETIC over the distinct-value counts table (the
# agg_exact_quantiles technique): values collapse to one row per
# distinct 2-dp value with per-variant counts, and the cumulative
# below-count comes from the two-phase distributed prefix sum
# (operators/prefix.py) — no partition-less ordered window even if the
# value column turns out high-cardinality.  Tie handling is the
# standard midrank, kept exact by tracking 2*ranksum as an integer; the
# tie-corrected normal approximation evaluates in one fixed IEEE tree
# (bit-portable like the z/t tests above).
# --------------------------------------------------------------------------
@register(
    "events_mannwhitney_u",
    oracle=f"""
    WITH p AS (
      SELECT CAST(value AS DECIMAL(12,2)) AS v,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM events WHERE event_type = 'purchase'
    ),
    g AS (
      SELECT v,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM p GROUP BY v
    ),
    c AS (
      SELECT v, na, nb, na + nb AS nv,
             CAST(SUM(na + nb) OVER (ORDER BY v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - (na + nb) AS below
      FROM g
    ),
    s AS (
      SELECT CAST(SUM(na) AS BIGINT) AS n_a,
             CAST(SUM(nb) AS BIGINT) AS n_b,
             SUM(CAST(na AS HUGEINT) * (2 * below + nv + 1)) AS two_ranksum_a,
             SUM(CAST(nv AS HUGEINT) * nv * nv - nv) AS tie_term
      FROM c
    ),
    u AS (
      SELECT n_a, n_b, tie_term,
             (CAST(two_ranksum_a AS DOUBLE)
              - CAST(CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE))
               / CAST(2 AS DOUBLE) AS u_a,
             CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) AS nab,
             CAST(n_a + n_b AS DOUBLE) AS n
      FROM s
    )
    SELECT n_a, n_b, u_a, nab - u_a AS u_b,
           (u_a - nab / CAST(2 AS DOUBLE))
             / sqrt((nab / CAST(12 AS DOUBLE))
                    * ((n + CAST(1 AS DOUBLE))
                       - CAST(tie_term AS DOUBLE)
                         / (n * (n - CAST(1 AS DOUBLE))))) AS z_stat
    FROM u
    """,
    tags=("events", "stats", "abtest"),
    doc="Mann-Whitney U with midrank ties; exact rank arithmetic, bit-exact z.",
)
def events_mannwhitney_u(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    variant = _ab_variant()
    p = ev.select(
        F.col("value").cast("decimal(12,2)").alias("v"), variant.alias("variant")
    )
    g = p.groupBy("v").agg(
        F.sum((F.col("variant") == 0).cast("long")).alias("na"),
        F.sum((F.col("variant") == 1).cast("long")).alias("nb"),
    )
    # Running count of values strictly below v: two-phase distributed
    # prefix sum over the distinct-value table (r9 VERDICT watch item —
    # nothing bounds distinct-value cardinality, so no partition-less
    # ordered window here; the prefix scan stays distributed at any
    # cardinality).
    from fotmobdatapipeline_spark.operators.prefix import running_sum

    c = running_sum(
        g.withColumn("nv", F.col("na") + F.col("nb")), ["v"], "nv", out_col="_upto"
    ).select(
        "na",
        "nb",
        "nv",
        (F.col("_upto") - F.col("nv")).alias("below"),
    )
    s = c.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(
            F.col("na").cast("decimal(38,0)")
            * (2 * F.col("below") + F.col("nv") + 1)
        ).alias("two_ranksum_a"),
        F.sum(
            F.col("nv").cast("decimal(38,0)") * F.col("nv") * F.col("nv")
            - F.col("nv")
        ).alias("tie_term"),
    )
    u = s.select(
        "n_a",
        "n_b",
        "tie_term",
        (
            (
                F.col("two_ranksum_a").cast("double")
                - (
                    F.col("n_a").cast("decimal(38,0)") * (F.col("n_a") + 1)
                ).cast("double")
            )
            / F.lit(2.0)
        ).alias("u_a"),
        (F.col("n_a").cast("double") * F.col("n_b").cast("double")).alias("nab"),
        (F.col("n_a") + F.col("n_b")).cast("double").alias("n"),
    )
    return u.select(
        "n_a",
        "n_b",
        "u_a",
        (F.col("nab") - F.col("u_a")).alias("u_b"),
        (
            (F.col("u_a") - F.col("nab") / F.lit(2.0))
            / F.sqrt(
                (F.col("nab") / F.lit(12.0))
                * (
                    (F.col("n") + F.lit(1.0))
                    - F.col("tie_term").cast("double")
                    / (F.col("n") * (F.col("n") - F.lit(1.0)))
                )
            )
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# CUPED variance reduction (Deng et al., WSDM 2013): adjust the post-
# period metric with the pre-period covariate, theta = cov(X,Y)/var(X).
# The pre/post boundary is the integer-µs midpoint of the FULL event
# span — computed over the UNFILTERED events table (_event_span_mid,
# shared with events_did_estimate) so it cannot diverge from the
# oracle's bnd CTE; per-user X/Y are exact DECIMAL purchase
# sums (0 when absent), products are DECIMAL(18,2)² = exactly-4-dp so
# every sufficient statistic (n, Sx, Sy, Sxx, Sxy, per-variant splits)
# is an order-insensitive exact aggregate; theta, the raw and adjusted
# deltas, and rho² (the variance-reduction fraction) then evaluate in
# one fixed IEEE tree — bit-portable like the z/t/U tests above.
# Scale shape: one scan for the boundary, one per-user aggregate, one
# 1-row conditional aggregate; no window, no data-scale join.
# --------------------------------------------------------------------------
@register(
    "events_cuped_adjusted",
    oracle=f"""
    WITH bnd AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid FROM events
    ),
    pu AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) < (SELECT mid FROM bnd)
               THEN CAST(value AS DECIMAL(12,2)) END), 0) AS DECIMAL(18,2)) AS x,
             CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) >= (SELECT mid FROM bnd)
               THEN CAST(value AS DECIMAL(12,2)) END), 0) AS DECIMAL(18,2)) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    v AS (
      SELECT x, y,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM pu
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             SUM(CASE WHEN variant = 0 THEN x ELSE CAST(0 AS DECIMAL(18,2)) END) AS sx_a,
             SUM(CASE WHEN variant = 0 THEN y ELSE CAST(0 AS DECIMAL(18,2)) END) AS sy_a,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             SUM(CASE WHEN variant = 1 THEN x ELSE CAST(0 AS DECIMAL(18,2)) END) AS sx_b,
             SUM(CASE WHEN variant = 1 THEN y ELSE CAST(0 AS DECIMAL(18,2)) END) AS sy_b
      FROM v
    ),
    m AS (
      SELECT n, n_a, n_b,
             (CAST(sxy AS DOUBLE)
              - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / CAST(n AS DOUBLE))
               / CAST(n - 1 AS DOUBLE) AS cov_xy,
             (CAST(sxx AS DOUBLE)
              - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))
               / CAST(n - 1 AS DOUBLE) AS var_x,
             CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mx_a,
             CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS my_a,
             CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mx_b,
             CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS my_b
      FROM t
    )
    SELECT n_a, n_b,
           cov_xy / var_x AS theta,
           my_a - my_b AS delta_raw,
           (my_a - (cov_xy / var_x) * mx_a)
             - (my_b - (cov_xy / var_x) * mx_b) AS delta_adj
    FROM m
    """,
    tags=("events", "stats", "abtest"),
    doc="CUPED covariate adjustment: theta and adjusted delta, bit-exact.",
)
def events_cuped_adjusted(spark: SparkSession, sf_dir: str):
    ev_all = read_table(spark, sf_dir, "events")
    bnd = _event_span_mid(ev_all)
    ev = ev_all.filter(F.col("event_type") == "purchase").withColumn(
        "tus", F.unix_micros("ts")
    )
    dec0 = F.lit(0).cast("decimal(18,2)")
    pu = (
        ev.crossJoin(F.broadcast(bnd))  # 1-row scalar by construction
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("tus") < F.col("mid"),
                        F.col("value").cast("decimal(12,2)"),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(18,2)")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("tus") >= F.col("mid"),
                        F.col("value").cast("decimal(12,2)"),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(18,2)")
            .alias("y"),
        )
    )
    variant = _ab_variant()
    v = pu.select("x", "y", variant.alias("variant"))
    is_a, is_b = F.col("variant") == 0, F.col("variant") == 1
    t = v.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(is_a.cast("long")).alias("n_a"),
        F.sum(F.when(is_a, F.col("x")).otherwise(dec0)).alias("sx_a"),
        F.sum(F.when(is_a, F.col("y")).otherwise(dec0)).alias("sy_a"),
        F.sum(is_b.cast("long")).alias("n_b"),
        F.sum(F.when(is_b, F.col("x")).otherwise(dec0)).alias("sx_b"),
        F.sum(F.when(is_b, F.col("y")).otherwise(dec0)).alias("sy_b"),
    )
    m = t.select(
        "n",
        "n_a",
        "n_b",
        (
            (
                F.col("sxy").cast("double")
                - (F.col("sx").cast("double") * F.col("sy").cast("double"))
                / F.col("n").cast("double")
            )
            / (F.col("n") - 1).cast("double")
        ).alias("cov_xy"),
        (
            (
                F.col("sxx").cast("double")
                - (F.col("sx").cast("double") * F.col("sx").cast("double"))
                / F.col("n").cast("double")
            )
            / (F.col("n") - 1).cast("double")
        ).alias("var_x"),
        (F.col("sx_a").cast("double") / F.col("n_a").cast("double")).alias("mx_a"),
        (F.col("sy_a").cast("double") / F.col("n_a").cast("double")).alias("my_a"),
        (F.col("sx_b").cast("double") / F.col("n_b").cast("double")).alias("mx_b"),
        (F.col("sy_b").cast("double") / F.col("n_b").cast("double")).alias("my_b"),
    )
    theta = F.col("cov_xy") / F.col("var_x")
    return m.select(
        "n_a",
        "n_b",
        theta.alias("theta"),
        (F.col("my_a") - F.col("my_b")).alias("delta_raw"),
        (
            (F.col("my_a") - theta * F.col("mx_a"))
            - (F.col("my_b") - theta * F.col("mx_b"))
        ).alias("delta_adj"),
    )


# --------------------------------------------------------------------------
# CUSUM level-shift detector per event type (Page 1954): hourly value
# totals in exact integer CENTS, target k = per-type mean hourly cents
# (integer div), and the classic one-sided recursion
# S_t = max(0, S_{t-1} + x_t - k) folded left-to-right over the
# calendar-bounded hourly series (the events_anomaly_mad shape: raw
# events collapse to one combinable (type, hour) aggregate first; the
# fold runs over ~hours-of-history elements per type, never events).
# All integer arithmetic — bit-exact by construction; alarm threshold
# h = 2k flags sustained above-target hours.  The oracle replays the
# fold with list_reduce (the events_holt_forecast pattern).
# --------------------------------------------------------------------------
@register(
    "events_cusum_hourly",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS ho,
             CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, list(cents ORDER BY ho) AS xs FROM hourly
      GROUP BY event_type
    ),
    k AS (
      SELECT event_type, xs,
             CAST(len(xs) AS BIGINT) AS n_hours,
             CAST(list_sum(xs) // len(xs) AS BIGINT) AS k_cents
      FROM g
    )
    SELECT event_type, n_hours, k_cents,
           CAST(list_reduce(
             list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                           CAST(0 AS BIGINT)],
                          list_transform(xs, v -> [v, v, v])),
             (a, x) -> [
               greatest(CAST(0 AS BIGINT), a[1] + x[1] - k_cents),
               greatest(a[2], greatest(CAST(0 AS BIGINT), a[1] + x[1] - k_cents)),
               a[3] + CASE WHEN greatest(CAST(0 AS BIGINT), a[1] + x[1] - k_cents)
                                > 2 * k_cents THEN 1 ELSE 0 END
             ])[2] AS BIGINT) AS max_cusum_cents,
           CAST(list_reduce(
             list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                           CAST(0 AS BIGINT)],
                          list_transform(xs, v -> [v, v, v])),
             (a, x) -> [
               greatest(CAST(0 AS BIGINT), a[1] + x[1] - k_cents),
               greatest(a[2], greatest(CAST(0 AS BIGINT), a[1] + x[1] - k_cents)),
               a[3] + CASE WHEN greatest(CAST(0 AS BIGINT), a[1] + x[1] - k_cents)
                                > 2 * k_cents THEN 1 ELSE 0 END
             ])[3] AS BIGINT) AS n_alarm_hours
    FROM k
    """,
    tags=("events", "time-series", "drift"),
    doc="CUSUM level-shift detector over hourly cents; integer-exact fold.",
)
def events_cusum_hourly(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.timeseries import (
        cusum_hourly_report,
        hourly_cents,
    )

    ev = read_table(spark, sf_dir, "events")
    return cusum_hourly_report(hourly_cents(ev))


# --------------------------------------------------------------------------
# Quantile treatment effects: the per-quantile sibling of the mean
# tests — exact PERCENTILE_CONT(0.5 / 0.9) of purchase value per hash
# variant (operators/stats.py rank arithmetic over the distinct-value
# counts table, ranks from the distributed two-phase prefix scan — a
# 2-arm split means each variant is HALF the corpus, so no per-variant
# single-partition sort; at most two nonzero contributions per
# percentile so the float SUM is order-insensitive), then the
# between-variant deltas.  Mirrors agg_exact_quantiles' proven p
# constants verbatim in both engines.
# --------------------------------------------------------------------------
def _sql_pct_ev(p: float) -> str:
    # Unlike agg_exact_quantiles' integer-valued column (where decimal
    # vs double position math coincides), purchase values are arbitrary
    # 2-dp doubles — the p literal must be DOUBLE on the DuckDB side or
    # the fractional weight differs in ulps (observed at p90).
    pos = f"(n - 1) * CAST({p} AS DOUBLE)"
    flo, frac = f"FLOOR({pos})", f"({pos} - FLOOR({pos}))"
    return (
        f"SUM(CASE WHEN rn = {flo} THEN v * (CAST(1 AS DOUBLE) - {frac}) "
        f"WHEN {frac} > 0 AND rn = {flo} + 1 THEN v * {frac} "
        f"ELSE CAST(0 AS DOUBLE) END)"
    )


@register(
    "events_qte",
    oracle=f"""
    WITH p AS (
      SELECT value AS v,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM events WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT variant, v,
             ROW_NUMBER() OVER (PARTITION BY variant ORDER BY v) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY variant) AS n
      FROM p
    ),
    q AS (
      SELECT variant, {_sql_pct_ev(0.5)} AS p50, {_sql_pct_ev(0.9)} AS p90
      FROM r GROUP BY variant
    ),
    w AS (
      SELECT MAX(CASE WHEN variant = 0 THEN p50 END) AS p50_a,
             MAX(CASE WHEN variant = 1 THEN p50 END) AS p50_b,
             MAX(CASE WHEN variant = 0 THEN p90 END) AS p90_a,
             MAX(CASE WHEN variant = 1 THEN p90 END) AS p90_b
      FROM q
    )
    SELECT p50_a, p50_b, p50_a - p50_b AS qte_p50,
           p90_a, p90_b, p90_a - p90_b AS qte_p90
    FROM w
    """,
    tags=("events", "stats", "abtest", "quantiles"),
    doc="Quantile treatment effects at p50/p90; exact rank arithmetic.",
)
def events_qte(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.stats import exact_group_quantiles

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    variant = _ab_variant()
    p = ev.select(F.col("value").alias("value"), variant.alias("variant"))
    q = exact_group_quantiles(p, "value", ["variant"], ps=(0.5, 0.9))
    w = q.agg(
        F.max(F.when(F.col("variant") == 0, F.col("p50"))).alias("p50_a"),
        F.max(F.when(F.col("variant") == 1, F.col("p50"))).alias("p50_b"),
        F.max(F.when(F.col("variant") == 0, F.col("p90"))).alias("p90_a"),
        F.max(F.when(F.col("variant") == 1, F.col("p90"))).alias("p90_b"),
    )
    return w.select(
        "p50_a",
        "p50_b",
        (F.col("p50_a") - F.col("p50_b")).alias("qte_p50"),
        "p90_a",
        "p90_b",
        (F.col("p90_a") - F.col("p90_b")).alias("qte_p90"),
    )


# --------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) check: the A/B sanity gate that runs
# before any effect is read — chi-square goodness-of-fit of the
# observed variant user counts against the designed 50/50 split.
# Exact integer counts; the statistic ((n_a-n_b)^2 / (n_a+n_b) for two
# equal-probability cells) and the 3.841 (df=1, alpha=.05) comparison
# evaluate in one fixed IEEE tree.  Same shape as the z-test: one
# per-user distinct, one 1-row conditional aggregate.
# --------------------------------------------------------------------------
@register(
    "events_srm_check",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ),
    v AS (
      SELECT ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM u
    ),
    t AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM v
    )
    SELECT n_a, n_b,
           CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
             / CAST(n_a + n_b AS DOUBLE) AS chi2,
           CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
             / CAST(n_a + n_b AS DOUBLE) > CAST(3.841 AS DOUBLE) AS srm_detected
    FROM t
    """,
    tags=("events", "stats", "abtest", "dq"),
    doc="Sample-ratio-mismatch chi-square on the hash split; bit-exact.",
)
def events_srm_check(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    variant = _ab_variant()
    v = u.select(variant.alias("variant"))
    t = v.agg(
        F.sum((F.col("variant") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("variant") == 1).cast("long")).alias("n_b"),
    )
    diff2 = (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    chi2 = diff2.cast("double") / (F.col("n_a") + F.col("n_b")).cast("double")
    return t.select(
        "n_a",
        "n_b",
        chi2.alias("chi2"),
        (chi2 > F.lit(3.841)).alias("srm_detected"),
    )


# --------------------------------------------------------------------------
# Last-touch revenue attribution: every purchase's value is credited to
# the user's most recent PRECEDING non-purchase event type (the
# marketing "channel"); purchases with no prior touch credit 'direct'.
# One per-user time-ordered window with an (UNBOUNDED, 1 PRECEDING)
# ignore-nulls last_value (the events_forward_fill pattern), then one
# exact-decimal revenue aggregate per channel.
# --------------------------------------------------------------------------
@register(
    "events_attribution_last_touch",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS tus, event_id,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS channel
      FROM events
    )
    SELECT COALESCE(channel, 'direct') AS channel,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS attributed_revenue
    FROM e WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("events", "analytics", "attribution"),
    doc="Last-touch attribution: purchase revenue credited to the prior touch.",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").withColumn("tus", F.unix_micros("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("tus"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    e = ev.withColumn("channel", touch)
    return (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("attributed_revenue"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic Poisson bootstrap for the A/B revenue delta: B=32
# replicates where each user's weight in replicate b is Poisson(1)
# drawn from md5(user, b) through FIXED integer CDF thresholds — the
# production-scale bootstrap (one pass, no RNG state, content-stable
# across reruns/engines).  Per-user revenue is an exact DECIMAL sum;
# weights are small ints, so every weighted sum stays exact and each
# replicate's delta is one fixed IEEE tree.  Scale shape: one per-user
# aggregate, a bounded 32x explode of USER-cardinality rows (never
# events), one combinable aggregate per replicate.
# --------------------------------------------------------------------------
_BOOT_B = 32
# Poisson(1) CDF scaled to 2^32: P(X<=k) for k = 0..4; >= last -> 5.
_POIS_T = (1580030169, 3160060337, 3950075422, 4213413783, 4279248374)


def _sql_pois_weight(h: str) -> str:
    return (
        f"CASE WHEN {h} < {_POIS_T[0]} THEN 0 "
        f"WHEN {h} < {_POIS_T[1]} THEN 1 "
        f"WHEN {h} < {_POIS_T[2]} THEN 2 "
        f"WHEN {h} < {_POIS_T[3]} THEN 3 "
        f"WHEN {h} < {_POIS_T[4]} THEN 4 ELSE 5 END"
    )


@register(
    "events_ab_bootstrap",
    oracle=f"""
    WITH pu AS (
      SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    v AS (
      SELECT user_id, x,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM pu
    ),
    rep AS (
      SELECT v.*, CAST(b AS INT) AS b,
             {_sql_pois_weight(
                 "(" + _sql_hex32_ab(
                     "substr(md5('boot:' || CAST(b AS VARCHAR) || ':' "
                     "|| CAST(user_id AS VARCHAR)), 1, 8)") + ")"
             )} AS w
      FROM v, UNNEST(range(0, {_BOOT_B})) AS t(b)
    ),
    agg AS (
      SELECT b,
             SUM(CASE WHEN variant = 0 THEN w * x
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS sx_a,
             CAST(SUM(CASE WHEN variant = 0 THEN w ELSE 0 END) AS BIGINT) AS n_a,
             SUM(CASE WHEN variant = 1 THEN w * x
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS sx_b,
             CAST(SUM(CASE WHEN variant = 1 THEN w ELSE 0 END) AS BIGINT) AS n_b
      FROM rep GROUP BY b
    )
    SELECT b,
           CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS delta_rep
    FROM agg
    """,
    tags=("events", "stats", "abtest", "bootstrap"),
    doc="Deterministic Poisson bootstrap: 32 hash-weighted delta replicates.",
)
def events_ab_bootstrap(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    pu = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("x")
    )
    v = pu.select("user_id", "x", _ab_variant().alias("variant"))
    rep = v.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("boot:"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("user_id").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    w = (
        F.when(h < _POIS_T[0], 0)
        .when(h < _POIS_T[1], 1)
        .when(h < _POIS_T[2], 2)
        .when(h < _POIS_T[3], 3)
        .when(h < _POIS_T[4], 4)
        .otherwise(5)
    )
    rep = rep.withColumn("w", w)
    dec0 = F.lit(0).cast("decimal(18,2)")
    is_a, is_b = F.col("variant") == 0, F.col("variant") == 1
    agg = rep.groupBy(F.col("b").cast("int").alias("b")).agg(
        F.sum(F.when(is_a, F.col("w") * F.col("x")).otherwise(dec0)).alias("sx_a"),
        F.sum(F.when(is_a, F.col("w")).otherwise(F.lit(0))).cast("bigint").alias("n_a"),
        F.sum(F.when(is_b, F.col("w") * F.col("x")).otherwise(dec0)).alias("sx_b"),
        F.sum(F.when(is_b, F.col("w")).otherwise(F.lit(0))).cast("bigint").alias("n_b"),
    )
    return agg.select(
        "b",
        (
            F.col("sx_a").cast("double") / F.col("n_a").cast("double")
            - F.col("sx_b").cast("double") / F.col("n_b").cast("double")
        ).alias("delta_rep"),
    )


# --------------------------------------------------------------------------
# Bootstrap confidence band: the 32 replicate deltas reduce to a
# PERCENTILE_CONT(.05/.95) interval plus the observed (unweighted)
# delta — the report an experiment readout actually shows.  Rank
# arithmetic over exactly B rows; the oracle composes the replicate
# query verbatim as a subquery.
# --------------------------------------------------------------------------
def _QUERIES_ORACLE_REF(name: str) -> str:
    from fotmobdatapipeline_spark.plans.catalog import QUERIES as _Q

    return _Q[name].oracle_text()


@register(
    "events_ab_bootstrap_ci",
    oracle=lambda: f"""
    WITH reps AS ({{rep}}),
    r AS (
      SELECT delta_rep AS v,
             ROW_NUMBER() OVER (ORDER BY delta_rep) - 1 AS rn,
             COUNT(*) OVER () AS n
      FROM reps
    )
    SELECT {_sql_pct_ev(0.05)} AS ci_lo, {_sql_pct_ev(0.95)} AS ci_hi,
           CAST(COUNT(*) AS BIGINT) AS n_reps
    FROM r
    """.format(
        rep=_QUERIES_ORACLE_REF("events_ab_bootstrap")
    ),
    tags=("events", "stats", "abtest", "bootstrap"),
    doc="Bootstrap 5-95% band over the 32 replicate deltas; exact ranks.",
)
def events_ab_bootstrap_ci(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.stats import exact_group_quantiles

    reps = events_ab_bootstrap(spark, sf_dir).withColumn("g", F.lit(1))
    q = exact_group_quantiles(
        reps, "delta_rep", ["g"], ps=(0.05, 0.95), names=("ci_lo", "ci_hi")
    )
    n = reps.groupBy("g").agg(F.count("*").alias("n_reps"))
    return q.join(n, "g").select("ci_lo", "ci_hi", "n_reps")


# --------------------------------------------------------------------------
# Difference-in-differences: the four (variant x period) mean-revenue
# cells around the CUPED boundary and the DiD estimate
# (post_a - pre_a) - (post_b - pre_b) — the quasi-experimental readout
# when randomization is suspect.  Exact decimal cell sums, integer
# counts, one fixed IEEE tree; same single-aggregate scale shape as the
# rest of the A/B family.
# --------------------------------------------------------------------------
@register(
    "events_did_estimate",
    oracle=f"""
    WITH bnd AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid FROM events
    ),
    p AS (
      SELECT CAST(value AS DECIMAL(12,2)) AS x,
             CASE WHEN epoch_us(ts) >= (SELECT mid FROM bnd) THEN 1 ELSE 0 END AS post,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT
        SUM(CASE WHEN variant = 0 AND post = 0 THEN x ELSE CAST(0 AS DECIMAL(12,2)) END) AS s_a0,
        CAST(SUM(CASE WHEN variant = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a0,
        SUM(CASE WHEN variant = 0 AND post = 1 THEN x ELSE CAST(0 AS DECIMAL(12,2)) END) AS s_a1,
        CAST(SUM(CASE WHEN variant = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a1,
        SUM(CASE WHEN variant = 1 AND post = 0 THEN x ELSE CAST(0 AS DECIMAL(12,2)) END) AS s_b0,
        CAST(SUM(CASE WHEN variant = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b0,
        SUM(CASE WHEN variant = 1 AND post = 1 THEN x ELSE CAST(0 AS DECIMAL(12,2)) END) AS s_b1,
        CAST(SUM(CASE WHEN variant = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b1
      FROM p
    ),
    m AS (
      SELECT n_a0, n_a1, n_b0, n_b1,
             CAST(s_a0 AS DOUBLE) / CAST(n_a0 AS DOUBLE) AS m_a0,
             CAST(s_a1 AS DOUBLE) / CAST(n_a1 AS DOUBLE) AS m_a1,
             CAST(s_b0 AS DOUBLE) / CAST(n_b0 AS DOUBLE) AS m_b0,
             CAST(s_b1 AS DOUBLE) / CAST(n_b1 AS DOUBLE) AS m_b1
      FROM t
    )
    SELECT n_a0, n_a1, n_b0, n_b1, m_a0, m_a1, m_b0, m_b1,
           (m_a1 - m_a0) - (m_b1 - m_b0) AS did
    FROM m
    """,
    tags=("events", "stats", "abtest"),
    doc="Difference-in-differences around the period boundary; bit-exact.",
)
def events_did_estimate(spark: SparkSession, sf_dir: str):
    ev_all = read_table(spark, sf_dir, "events")
    bnd = _event_span_mid(ev_all)
    ev = ev_all.filter(F.col("event_type") == "purchase").withColumn(
        "tus", F.unix_micros("ts")
    )
    p = ev.crossJoin(F.broadcast(bnd)).select(
        F.col("value").cast("decimal(12,2)").alias("x"),
        (F.col("tus") >= F.col("mid")).cast("int").alias("post"),
        _ab_variant().alias("variant"),
    )
    dec0 = F.lit(0).cast("decimal(12,2)")
    aggs = []
    for vn, vv in (("a", 0), ("b", 1)):
        for pn in (0, 1):
            c = (F.col("variant") == vv) & (F.col("post") == pn)
            aggs.append(F.sum(F.when(c, F.col("x")).otherwise(dec0)).alias(f"s_{vn}{pn}"))
            aggs.append(
                F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(f"n_{vn}{pn}")
            )
    t = p.agg(*aggs)
    means = [
        (F.col(f"s_{c}").cast("double") / F.col(f"n_{c}").cast("double")).alias(
            f"m_{c}"
        )
        for c in ("a0", "a1", "b0", "b1")
    ]
    m = t.select(*(F.col(f"n_{c}") for c in ("a0", "a1", "b0", "b1")), *means)
    return m.select(
        "*",
        (
            (F.col("m_a1") - F.col("m_a0")) - (F.col("m_b1") - F.col("m_b0"))
        ).alias("did"),
    )


# --------------------------------------------------------------------------
# Experiment sizing readout: with the observed arm sizes and base
# conversion rate, the minimum detectable effect at alpha=.05 /
# power=.80 — MDE = (z_alpha/2 + z_beta) * sqrt(p(1-p) * (1/n_a+1/n_b)).
# The z constants are fixed literals (1.959964, 0.841621), everything
# else exact counts through one fixed IEEE tree; same one-aggregate
# shape as events_ab_ztest, whose split and conversion definition it
# reuses.
# --------------------------------------------------------------------------
_Z_ALPHA, _Z_BETA = 1.959964, 0.841621


@register(
    "events_ab_mde",
    oracle=f"""
    WITH pu AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                 THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT conv,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM pu
    ),
    t AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(conv) AS BIGINT) AS c
      FROM v
    ),
    m AS (
      SELECT n_a, n_b,
             CAST(c AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS base_rate
      FROM t
    )
    SELECT n_a, n_b, base_rate,
           (CAST({_Z_ALPHA} AS DOUBLE) + CAST({_Z_BETA} AS DOUBLE))
             * sqrt((base_rate * (CAST(1 AS DOUBLE) - base_rate))
                    * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                       + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS mde_abs
    FROM m
    """,
    tags=("events", "stats", "abtest"),
    doc="Minimum detectable effect at alpha=.05/power=.80; bit-exact.",
)
def events_ab_mde(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("value") > 150)).cast(
                "int"
            )
        ).alias("conv")
    )
    v = pu.select("conv", _ab_variant().alias("variant"))
    t = v.agg(
        F.sum((F.col("variant") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("variant") == 1).cast("long")).alias("n_b"),
        F.sum("conv").cast("bigint").alias("c"),
    )
    m = t.select(
        "n_a",
        "n_b",
        (F.col("c").cast("double") / (F.col("n_a") + F.col("n_b")).cast("double")).alias(
            "base_rate"
        ),
    )
    return m.select(
        "n_a",
        "n_b",
        "base_rate",
        (
            (F.lit(_Z_ALPHA) + F.lit(_Z_BETA))
            * F.sqrt(
                (F.col("base_rate") * (F.lit(1.0) - F.col("base_rate")))
                * (
                    F.lit(1.0) / F.col("n_a").cast("double")
                    + F.lit(1.0) / F.col("n_b").cast("double")
                )
            )
        ).alias("mde_abs"),
    )


# --------------------------------------------------------------------------
# Switchback experiment: the treatment toggles by HOUR (hash of the
# hour bucket), the design used when user-level randomization leaks
# (marketplaces, pricing).  Analysis clusters at the randomization
# unit: each hour's mean revenue is exact (decimal sum / int count),
# and the per-variant average of bucket means is a SEQUENTIAL fold
# over the calendar-bounded sorted bucket list (the EWMA/Holt device —
# a float SUM over buckets would be shuffle-order dependent).
# --------------------------------------------------------------------------
@register(
    "events_switchback_delta",
    oracle=f"""
    WITH p AS (
      SELECT epoch_us(ts) // 3600000000 AS ho,
             CAST(value AS DECIMAL(12,2)) AS x
      FROM events WHERE event_type = 'purchase'
    ),
    b AS (
      SELECT ho,
             ({_sql_hex32_ab("substr(md5('sb:' || CAST(ho AS VARCHAR)), 1, 8)")})
               % 2 AS variant,
             CAST(SUM(x) AS DOUBLE) / COUNT(*) AS m
      FROM p GROUP BY ho
    ),
    g AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_buckets,
             list_reduce(list(m ORDER BY ho), (a, v) -> a + v) AS s
      FROM b GROUP BY variant
    ),
    w AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n_buckets END) AS n_buckets_a,
        MAX(CASE WHEN variant = 1 THEN n_buckets END) AS n_buckets_b,
        MAX(CASE WHEN variant = 0 THEN s END) AS s_a,
        MAX(CASE WHEN variant = 1 THEN s END) AS s_b
      FROM g
    )
    SELECT n_buckets_a, n_buckets_b,
           s_a / CAST(n_buckets_a AS DOUBLE) AS mean_a,
           s_b / CAST(n_buckets_b AS DOUBLE) AS mean_b,
           s_a / CAST(n_buckets_a AS DOUBLE)
             - s_b / CAST(n_buckets_b AS DOUBLE) AS delta
    FROM w
    """,
    tags=("events", "stats", "abtest", "switchback"),
    doc="Switchback (hour-randomized) delta with cluster-level means; bit-exact.",
)
def events_switchback_delta(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    p = ev.select(
        F.expr("unix_micros(ts) div 3600000000").alias("ho"),
        F.col("value").cast("decimal(12,2)").alias("x"),
    )
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sb:"), F.col("ho").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    b = p.groupBy("ho").agg(
        (F.sum("x").cast("double") / F.count("*").cast("double")).alias("m")
    ).select("ho", variant.alias("variant"), "m")
    arr = F.array_sort(F.collect_list(F.struct("ho", "m")))
    g = b.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.aggregate(
            F.transform(arr, lambda s: s["m"]),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("s"),
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_buckets"))).alias("n_buckets_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n_buckets"))).alias("n_buckets_b"),
        F.max(F.when(F.col("variant") == 0, F.col("s"))).alias("s_a"),
        F.max(F.when(F.col("variant") == 1, F.col("s"))).alias("s_b"),
    )
    mean_a = F.col("s_a") / F.col("n_buckets_a").cast("double")
    mean_b = F.col("s_b") / F.col("n_buckets_b").cast("double")
    return w.select(
        "n_buckets_a",
        "n_buckets_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        (mean_a - mean_b).alias("delta"),
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival: time from each user's first event to their
# first purchase, users without a purchase right-censored at the corpus
# end.  The time axis is integer DAYS — calendar-bounded cardinality
# (the CUSUM doctrine: raw events collapse to one combinable per-user
# aggregate, then everything ordered runs over ~days-of-history rows,
# never events).  The risk-set arithmetic is integer-exact (prefix
# aggregates over the broadcast day table); the survival product is a
# SEQUENTIAL left fold in duration order replayed verbatim by DuckDB's
# list_reduce (the holt pattern — LIST accumulator, both elements
# computed from the PRE-update state), so values are bit-identical.
# Scale shape: one per-user aggregate (map-combinable), one groupBy on
# day, one 1-row collect_list of the day table (bounded), per-row
# prefix folds over <= days elements.  No window, no data-scale join.
# --------------------------------------------------------------------------
_KM_DAY_US = 86_400_000_000


@register(
    "events_survival_km",
    oracle=f"""
    WITH u AS (
      SELECT user_id, MIN(epoch_us(ts)) AS entry,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS death
      FROM events GROUP BY user_id
    ),
    g AS (SELECT MAX(epoch_us(ts)) AS gmax FROM events),
    d AS (
      SELECT (COALESCE(death, gmax) - entry) // {_KM_DAY_US} AS dur,
             CASE WHEN death IS NOT NULL THEN 1 ELSE 0 END AS obs
      FROM u CROSS JOIN g
    ),
    t AS (
      SELECT dur, CAST(SUM(obs) AS BIGINT) AS d,
             CAST(SUM(1 - obs) AS BIGINT) AS c
      FROM d GROUP BY dur
    ),
    n AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n0 FROM t),
    l AS (
      SELECT list({{'dur': dur, 'd': CAST(d AS DOUBLE), 'c': CAST(c AS DOUBLE)}}
                  ORDER BY dur) AS steps
      FROM t
    )
    SELECT t.dur AS duration_days,
           n.n0 - CAST(COALESCE((SELECT SUM(b.d + b.c) FROM t b WHERE b.dur < t.dur), 0)
                       AS BIGINT) AS n_risk,
           t.d AS n_events,
           t.c AS n_censored,
           list_reduce(
             list_prepend([CAST(n.n0 AS DOUBLE), CAST(1 AS DOUBLE)],
               list_transform(list_filter(l.steps, s -> s.dur <= t.dur),
                              s -> [s.d, s.c])),
             (a, x) -> [a[1] - x[1] - x[2],
                        a[2] * (CAST(1 AS DOUBLE) - x[1] / a[1])])[2] AS survival
    FROM t CROSS JOIN n CROSS JOIN l
    """,
    tags=("events", "stats", "survival"),
    doc="Kaplan-Meier time-to-first-purchase with right censoring; bit-exact.",
)
def events_survival_km(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").withColumn("tus", F.unix_micros("ts"))
    u = ev.groupBy("user_id").agg(
        F.min("tus").alias("entry"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("tus"))).alias("death"),
    )
    g = ev.agg(F.max("tus").alias("gmax"))
    d = u.crossJoin(F.broadcast(g)).select(  # 1-row scalar by construction
        F.expr(f"(COALESCE(death, gmax) - entry) div {_KM_DAY_US}").alias("dur"),
        F.col("death").isNotNull().cast("int").alias("obs"),
    )
    t = d.groupBy("dur").agg(
        F.sum("obs").cast("bigint").alias("d"),
        F.sum(1 - F.col("obs")).cast("bigint").alias("c"),
    )
    t = share(t)  # three consumers: rows, n0, steps
    n0 = t.agg(F.sum(F.col("d") + F.col("c")).cast("bigint").alias("n0"))
    steps = t.agg(
        F.array_sort(F.collect_list(F.struct("dur", "d", "c"))).alias("steps")
    )
    t2 = t.crossJoin(F.broadcast(n0)).crossJoin(F.broadcast(steps))
    prior = F.filter("steps", lambda s: s["dur"] < F.col("dur"))
    upto = F.filter("steps", lambda s: s["dur"] <= F.col("dur"))
    n_risk = F.col("n0") - F.aggregate(
        prior, F.lit(0).cast("bigint"), lambda a, s: a + s["d"] + s["c"]
    )
    surv = F.aggregate(
        upto,
        F.struct(
            F.col("n0").cast("double").alias("rem"), F.lit(1.0).alias("surv")
        ),
        lambda a, s: F.struct(
            (a["rem"] - s["d"] - s["c"]).alias("rem"),
            (
                a["surv"]
                * (F.lit(1.0) - s["d"].cast("double") / a["rem"])
            ).alias("surv"),
        ),
    )["surv"]
    return t2.select(
        F.col("dur").alias("duration_days"),
        n_risk.alias("n_risk"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        surv.alias("survival"),
    )


# --------------------------------------------------------------------------
# Always-valid sequential A/B monitoring (mSPRT, Johari et al. 2017):
# per calendar hour, the CUMULATIVE per-variant big-purchase conversion
# counts and the mixture-SPRT log likelihood ratio
#   log L = 0.5*ln(V/(V+tau^2)) + theta^2*tau^2 / (2*V*(V+tau^2))
# against H0: theta = 0, with N(0, tau^2=0.01) mixture; the experiment
# may stop the first hour log L >= ln(1/alpha) (alpha=.05) without
# inflating false positives.  Cumulative counts are integer-exact
# prefix aggregates over the broadcast hour table (calendar-bounded
# cardinality — the CUSUM doctrine; Spark folds, the oracle uses an
# integer window, both exact); the per-hour float readout is one fixed
# IEEE tree (ln is bit-portable on this engine pair — the perplexity
# family's proven precedent).  Degenerate hours (either arm empty, or
# pooled rate 0/1 making V = 0) yield NULL log L in both engines.
# --------------------------------------------------------------------------
from fotmobdatapipeline_spark.operators.abtest import (  # noqa: E402
    MSPRT_LN20 as _MSPRT_LN20,
    MSPRT_TAU2 as _MSPRT_TAU2,
)


@register(
    "events_msprt_monitor",
    oracle=f"""
    WITH p AS (
      SELECT epoch_us(ts) // 3600000000 AS hour,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant,
             CASE WHEN value > 150 THEN 1 ELSE 0 END AS conv
      FROM events WHERE event_type = 'purchase'
    ),
    h AS (
      SELECT hour,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS xa,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS xb
      FROM p GROUP BY hour
    ),
    c AS (
      SELECT hour,
             CAST(SUM(na) OVER w AS BIGINT) AS n_a,
             CAST(SUM(xa) OVER w AS BIGINT) AS x_a,
             CAST(SUM(nb) OVER w AS BIGINT) AS n_b,
             CAST(SUM(xb) OVER w AS BIGINT) AS x_b
      FROM h
      WINDOW w AS (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    m AS (
      SELECT hour, n_a, x_a, n_b, x_b,
             CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
               - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS theta_hat,
             (CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
               * (CAST(1 AS DOUBLE)
                  - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
               * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                  + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE)) AS v
      FROM c WHERE n_a > 0 AND n_b > 0
    ),
    r AS (
      SELECT hour, n_a, x_a, n_b, x_b, theta_hat,
             CASE WHEN v > 0 THEN
               ROUND(CAST(0.5 AS DOUBLE) * ln(v / (v + CAST({_MSPRT_TAU2} AS DOUBLE)))
               + theta_hat * theta_hat * CAST({_MSPRT_TAU2} AS DOUBLE)
                 / (CAST(2 AS DOUBLE) * v * (v + CAST({_MSPRT_TAU2} AS DOUBLE))), 9)
             END AS log_lambda
      FROM m
    )
    SELECT hour, n_a, x_a, n_b, x_b, theta_hat, log_lambda,
           log_lambda >= CAST({_MSPRT_LN20} AS DOUBLE) AS crossed
    FROM r
    """,
    tags=("events", "stats", "abtest", "sequential"),
    doc="Always-valid mSPRT monitoring per hour; exact cumulative counts.",
)
def events_msprt_monitor(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.abtest import (
        msprt_hourly_counts,
        msprt_report,
    )

    return msprt_report(msprt_hourly_counts(read_table(spark, sf_dir, "events")))


# --------------------------------------------------------------------------
# Theil-Sen robust trend per event type: the median of all pairwise
# slopes of the DAILY revenue series — the outlier-proof alternative to
# OLS for "is this metric drifting".  Raw events collapse to one
# combinable (type, day) integer-cents aggregate first (the CUSUM
# doctrine), so the pairwise self-join is days² per type — calendar-
# bounded (~435 pairs/month), never event-scale.  Slopes are single
# IEEE divisions of exact integers; the median is lower-median rank
# arithmetic over the per-type slope array (agg_weighted_median
# precedent) — bit-identical in both engines.
# --------------------------------------------------------------------------
@register(
    "events_theilsen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(b.cents - a.cents AS DOUBLE)
               / CAST(b.day - a.day AS DOUBLE) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    g AS (
      SELECT p.event_type,
             d.n_days,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             list(p.slope ORDER BY p.slope) AS slopes
      FROM pairs p JOIN (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
        FROM daily GROUP BY event_type
      ) d USING (event_type)
      GROUP BY p.event_type, d.n_days
    )
    SELECT event_type, n_days, n_pairs,
           slopes[CAST((n_pairs - 1) // 2 AS INT) + 1] AS theilsen_slope
    FROM g
    """,
    tags=("events", "stats", "time-series", "robust"),
    doc="Theil-Sen median-of-slopes trend of daily revenue; bit-exact.",
)
def events_theilsen_trend(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.col("value").cast("decimal(12,2)").alias("v"),
        )
        .groupBy("event_type", "day")
        .agg((F.sum(F.col("v") * 100)).cast("bigint").alias("cents"))
    )
    daily = share(daily)  # two consumers: pairs + n_days
    a = daily.select("event_type", F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = daily.select("event_type", F.col("day").alias("db"), F.col("cents").alias("cb"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("da") < F.col("db"))
        .select(
            "event_type",
            (
                (F.col("cb") - F.col("ca")).cast("double")
                / (F.col("db") - F.col("da")).cast("double")
            ).alias("slope"),
        )
    )
    nd = daily.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_days"))
    g = (
        pairs.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.array_sort(F.collect_list("slope")).alias("slopes"),
        )
        .join(nd, "event_type")
    )
    med = F.element_at(
        F.col("slopes"), (((F.col("n_pairs") - 1) / 2).cast("int") + 1)
    )
    return g.select("event_type", "n_days", "n_pairs", med.alias("theilsen_slope"))


# --------------------------------------------------------------------------
# Heterogeneous treatment effect readout: the A/B revenue delta within
# fixed user-activity bands (light < 40, regular < 70, heavy >= 70
# events) — the "who moved" follow-up to the mean tests.  Fixed
# thresholds, not data-adaptive terciles, so banding is a pure per-user
# expression (an adaptive split would ride the exact_group_quantiles
# prefix scan instead).  Per band: exact-decimal per-variant means in
# one combinable aggregate, delta in one fixed IEEE tree — and each
# band's delta minus the pooled delta (the interaction) from a 1-row
# broadcast of the overall cells.
# --------------------------------------------------------------------------
@register(
    "events_hte_by_activity",
    oracle=f"""
    WITH pu AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(12,2)) END), 0) AS DECIMAL(18,2)) AS rev
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT CASE WHEN n_ev < 40 THEN 'light'
                  WHEN n_ev < 70 THEN 'regular'
                  ELSE 'heavy' END AS band,
             rev,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM pu
    ),
    b AS (
      SELECT band,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             SUM(CASE WHEN variant = 0 THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_a,
             SUM(CASE WHEN variant = 1 THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_b
      FROM v GROUP BY band
    ),
    o AS (
      SELECT CAST(SUM(s_a) AS DOUBLE) / CAST(SUM(n_a) AS DOUBLE)
               - CAST(SUM(s_b) AS DOUBLE) / CAST(SUM(n_b) AS DOUBLE) AS pooled_delta
      FROM b
    )
    SELECT band, n_a, n_b,
           CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
           CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
           CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS delta,
           (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) - o.pooled_delta
             AS interaction
    FROM b CROSS JOIN o
    """,
    tags=("events", "stats", "abtest", "hte"),
    doc="Per-activity-band A/B revenue deltas and interactions; bit-exact.",
)
def events_hte_by_activity(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    dec0 = F.lit(0).cast("decimal(18,2)")
    pu = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_ev"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(12,2)"),
                )
            ),
            F.lit(0),
        )
        .cast("decimal(18,2)")
        .alias("rev"),
    )
    band = (
        F.when(F.col("n_ev") < 40, F.lit("light"))
        .when(F.col("n_ev") < 70, F.lit("regular"))
        .otherwise(F.lit("heavy"))
    )
    v = pu.select(band.alias("band"), "rev", _ab_variant().alias("variant"))
    is_a, is_b = F.col("variant") == 0, F.col("variant") == 1
    b = v.groupBy("band").agg(
        F.sum(is_a.cast("int")).cast("bigint").alias("n_a"),
        F.sum(is_b.cast("int")).cast("bigint").alias("n_b"),
        F.sum(F.when(is_a, F.col("rev")).otherwise(dec0)).alias("s_a"),
        F.sum(F.when(is_b, F.col("rev")).otherwise(dec0)).alias("s_b"),
    )
    b = share(b)  # two consumers: rows + pooled cells
    o = b.agg(
        (
            F.sum("s_a").cast("double") / F.sum("n_a").cast("double")
            - F.sum("s_b").cast("double") / F.sum("n_b").cast("double")
        ).alias("pooled_delta")
    )
    mean_a = F.col("s_a").cast("double") / F.col("n_a").cast("double")
    mean_b = F.col("s_b").cast("double") / F.col("n_b").cast("double")
    delta = mean_a - mean_b
    return b.crossJoin(F.broadcast(o)).select(
        "band",
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        delta.alias("delta"),
        (delta - F.col("pooled_delta")).alias("interaction"),
    )


# --------------------------------------------------------------------------
# Conversion-lag quantiles: per converting user, µs from first 'view'
# to first subsequent 'purchase'; p50/p90 of the lag distribution —
# the funnel's "how long" companion.  One per-user aggregate, then
# exact PERCENTILE_CONT through operators/stats.py's distinct-value
# prefix-scan rank arithmetic (scale-safe at ANY user cardinality —
# the r10 de-windowed quantile path this entry deliberately exercises
# on a genuine lag distribution).
# --------------------------------------------------------------------------
@register(
    "events_conversion_lag",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v0
      FROM events GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id,
             MIN(epoch_us(e.ts)) - u.v0 AS lag_us
      FROM events e JOIN u ON e.user_id = u.user_id
      WHERE e.event_type = 'purchase' AND u.v0 IS NOT NULL
        AND epoch_us(e.ts) >= u.v0
      GROUP BY e.user_id, u.v0
    ),
    r AS (
      SELECT CAST(lag_us AS DOUBLE) AS v,
             ROW_NUMBER() OVER (ORDER BY lag_us) - 1 AS rn,
             COUNT(*) OVER () AS n
      FROM p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           SUM(CASE WHEN rn = FLOOR((n - 1) * CAST(0.5 AS DOUBLE))
                 THEN v * (CAST(1 AS DOUBLE)
                           - ((n - 1) * CAST(0.5 AS DOUBLE)
                              - FLOOR((n - 1) * CAST(0.5 AS DOUBLE))))
               WHEN ((n - 1) * CAST(0.5 AS DOUBLE)
                     - FLOOR((n - 1) * CAST(0.5 AS DOUBLE))) > 0
                 AND rn = FLOOR((n - 1) * CAST(0.5 AS DOUBLE)) + 1
                 THEN v * ((n - 1) * CAST(0.5 AS DOUBLE)
                           - FLOOR((n - 1) * CAST(0.5 AS DOUBLE)))
               ELSE CAST(0 AS DOUBLE) END) AS p50_lag_us,
           SUM(CASE WHEN rn = FLOOR((n - 1) * CAST(0.9 AS DOUBLE))
                 THEN v * (CAST(1 AS DOUBLE)
                           - ((n - 1) * CAST(0.9 AS DOUBLE)
                              - FLOOR((n - 1) * CAST(0.9 AS DOUBLE))))
               WHEN ((n - 1) * CAST(0.9 AS DOUBLE)
                     - FLOOR((n - 1) * CAST(0.9 AS DOUBLE))) > 0
                 AND rn = FLOOR((n - 1) * CAST(0.9 AS DOUBLE)) + 1
                 THEN v * ((n - 1) * CAST(0.9 AS DOUBLE)
                           - FLOOR((n - 1) * CAST(0.9 AS DOUBLE)))
               ELSE CAST(0 AS DOUBLE) END) AS p90_lag_us
    FROM r
    """,
    tags=("events", "funnel", "quantiles"),
    doc="First-view to first-purchase lag with exact p50/p90; bit-exact.",
)
def events_conversion_lag(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.stats import exact_group_quantiles

    ev = read_table(spark, sf_dir, "events").withColumn("tus", F.unix_micros("ts"))
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("tus"))).alias("v0")
    ).filter(F.col("v0").isNotNull())
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(u, "user_id")
        .filter(F.col("tus") >= F.col("v0"))
        .groupBy("user_id", "v0")
        .agg((F.min("tus") - F.col("v0")).cast("double").alias("lag_us"))
        .select(F.lit(1).alias("g"), "lag_us")
    )
    q = exact_group_quantiles(p, "lag_us", ["g"], ps=(0.5, 0.9))
    n = p.groupBy("g").agg(F.count("*").cast("bigint").alias("n_converted"))
    return q.join(n, "g").select(
        "n_converted",
        F.col("p50").alias("p50_lag_us"),
        F.col("p90").alias("p90_lag_us"),
    )


# --------------------------------------------------------------------------
# Cohort LTV curves: users grouped by first-seen week, each cohort's
# CUMULATIVE purchase revenue per user by age-week — the retention
# matrix's revenue companion.  The running total is an EXACT-DECIMAL
# window sum over (cohort, age) cells: cell cardinality is calendar² —
# bounded at any event volume (the CUSUM doctrine) — and decimal
# addition is order-insensitive, so the window is value-exact by
# construction; the only doubles are the final per-user divisions.
# --------------------------------------------------------------------------
_WEEK_US = 7 * 86_400_000_000


@register(
    "events_cohort_ltv",
    oracle=f"""
    WITH u AS (
      SELECT user_id, MIN(epoch_us(ts) // {_WEEK_US}) AS cohort_week
      FROM events GROUP BY user_id
    ),
    cs AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM u GROUP BY cohort_week
    ),
    p AS (
      SELECT u.cohort_week,
             (epoch_us(e.ts) // {_WEEK_US}) - u.cohort_week AS age_week,
             CAST(e.value AS DECIMAL(12,2)) AS v
      FROM events e JOIN u ON e.user_id = u.user_id
      WHERE e.event_type = 'purchase'
    ),
    cell AS (
      SELECT cohort_week, age_week,
             CAST(SUM(v) AS DECIMAL(18,2)) AS week_revenue
      FROM p GROUP BY cohort_week, age_week
    ),
    cum AS (
      SELECT cohort_week, age_week, week_revenue,
             CAST(SUM(week_revenue) OVER (
               PARTITION BY cohort_week ORDER BY age_week
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS DECIMAL(18,2)) AS cum_revenue
      FROM cell
    )
    SELECT c.cohort_week, c.age_week,
           CAST(c.week_revenue AS DOUBLE) AS week_revenue,
           CAST(c.cum_revenue AS DOUBLE) AS cum_revenue,
           s.cohort_size,
           CAST(c.cum_revenue AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
             AS ltv_per_user
    FROM cum c JOIN cs s USING (cohort_week)
    """,
    tags=("events", "analytics", "cohort"),
    doc="Cohort cumulative-LTV curves; exact-decimal running revenue.",
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").withColumn(
        "week", F.expr(f"unix_micros(ts) div {_WEEK_US}")
    )
    u = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    u = share(u)  # two consumers: sizes + purchase join
    cs = u.groupBy("cohort_week").agg(F.count("*").cast("bigint").alias("cohort_size"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(u, "user_id")
        .select(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("age_week"),
            F.col("value").cast("decimal(12,2)").alias("v"),
        )
    )
    cell = p.groupBy("cohort_week", "age_week").agg(
        F.sum("v").cast("decimal(18,2)").alias("week_revenue")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cell.withColumn(
        "cum_revenue", F.sum("week_revenue").over(w).cast("decimal(18,2)")
    )
    return cum.join(cs, "cohort_week").select(
        "cohort_week",
        "age_week",
        F.col("week_revenue").cast("double").alias("week_revenue"),
        F.col("cum_revenue").cast("double").alias("cum_revenue"),
        "cohort_size",
        (
            F.col("cum_revenue").cast("double") / F.col("cohort_size").cast("double")
        ).alias("ltv_per_user"),
    )


# --------------------------------------------------------------------------
# Seasonal-naive anomaly report: each (type, hour)'s revenue residual
# against its hour-of-day baseline (the daily-seasonality complement to
# the MAD and CUSUM detectors).  All-integer arithmetic: hourly exact
# cents (operators/timeseries.hourly_cents), baseline = integer-div
# mean per (type, hour-of-day), residual a subtraction — bit-exact with
# no float anywhere; top anomalies by |residual| via a distributed
# TakeOrderedAndProject.  Scale shape: events collapse to the
# calendar-bounded hourly aggregate before anything else (CUSUM
# doctrine); the baseline join is (type x 24)-cardinality.
# --------------------------------------------------------------------------
@register(
    "events_seasonal_residuals",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS ho,
             CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, ho % 24 AS hod,
             CAST(SUM(cents) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS base_cents
      FROM hourly GROUP BY 1, 2
    )
    SELECT h.event_type, h.ho AS hour, h.cents, b.base_cents,
           h.cents - b.base_cents AS residual_cents
    FROM hourly h JOIN base b
      ON h.event_type = b.event_type AND (h.ho % 24) = b.hod
    ORDER BY ABS(h.cents - b.base_cents) DESC, h.event_type ASC, h.ho ASC
    LIMIT 20
    """,
    tags=("events", "time-series", "anomaly"),
    doc="Hour-of-day seasonal baseline residuals; integer-exact, top-20.",
)
def events_seasonal_residuals(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.timeseries import hourly_cents

    ev = read_table(spark, sf_dir, "events")
    hourly = share(hourly_cents(ev))  # rows + baseline
    base = (
        hourly.withColumn("hod", F.col("ho") % 24)
        .groupBy("event_type", "hod")
        .agg(
            F.expr("sum(cents) div count(*)").cast("bigint").alias("base_cents")
        )
    )
    j = hourly.withColumn("hod", F.col("ho") % 24).join(
        base, ["event_type", "hod"]
    )
    res = F.col("cents") - F.col("base_cents")
    return (
        j.select(
            "event_type",
            F.col("ho").alias("hour"),
            "cents",
            "base_cents",
            res.alias("residual_cents"),
        )
        .orderBy(
            F.abs(F.col("residual_cents")).desc(),
            F.asc("event_type"),
            F.asc("hour"),
        )
        .limit(20)
    )


# --------------------------------------------------------------------------
# Population stability index vs the pinned baseline snapshot: the
# standard model-monitoring drift score, next to the exact-KS entry.
# Fixed $50 value buckets (13 cells, overflow-clamped), add-1 smoothed
# shares so empty cells stay finite; the per-bucket term
# (pc - pb) * ln(pc / pb) is ROUNDED to 9 dp in both engines (ln is not
# bit-portable — the mSPRT/DSIR precedent) and the total is a
# SEQUENTIAL fold over the 13 bucket-sorted terms (a float SUM's order
# is the shuffle's choice; the fold's is fixed).  Everything upstream
# of the ln is exact integer counts; scale shape is two combinable
# bucket aggregates, a 13-row join, one fold.
# --------------------------------------------------------------------------
_PSI_W, _PSI_BUCKETS = 50, 13


@register(
    "drift_value_psi",
    oracle=f"""
    WITH cur AS (
      SELECT LEAST(CAST(FLOOR(value / {_PSI_W}) AS BIGINT), {_PSI_BUCKETS - 1})
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS nc
      FROM events GROUP BY 1
    ),
    base AS (
      SELECT LEAST(CAST(FLOOR(value / {_PSI_W}) AS BIGINT), {_PSI_BUCKETS - 1})
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM read_parquet('{{base_dir}}/events.parquet') GROUP BY 1
    ),
    grid(bucket) AS (
      SELECT UNNEST(range(0, {_PSI_BUCKETS}))
    ),
    m AS (
      SELECT g.bucket,
             COALESCE(c.nc, 0) AS nc, COALESCE(b.nb, 0) AS nb
      FROM grid g LEFT JOIN cur c ON g.bucket = c.bucket
      LEFT JOIN base b ON g.bucket = b.bucket
    ),
    tot AS (
      SELECT CAST(SUM(nc) AS BIGINT) AS nct, CAST(SUM(nb) AS BIGINT) AS nbt
      FROM m
    ),
    terms AS (
      SELECT m.bucket, m.nc, m.nb,
             (CAST(m.nc + 1 AS DOUBLE) / CAST(t.nct + {_PSI_BUCKETS} AS DOUBLE))
               AS pc,
             (CAST(m.nb + 1 AS DOUBLE) / CAST(t.nbt + {_PSI_BUCKETS} AS DOUBLE))
               AS pb
      FROM m CROSS JOIN tot t
    ),
    r AS (
      SELECT bucket, nc, nb, pc, pb,
             ROUND((pc - pb) * ln(pc / pb), 9) AS psi_term
      FROM terms
    ),
    total AS (
      SELECT list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list(psi_term ORDER BY bucket)),
               (a, x) -> a + x) AS psi_total
      FROM r
    )
    SELECT r.bucket, r.nc AS n_cur, r.nb AS n_base,
           r.pc AS share_cur, r.pb AS share_base,
           r.psi_term, total.psi_total
    FROM r CROSS JOIN total
    """.replace("{base_dir}", _DRIFT_BASELINE_DIR),
    tags=("events", "dq", "drift", "stats"),
    doc="PSI vs baseline over fixed value buckets; rounded ln terms, folded total.",
)
def drift_value_psi(spark: SparkSession, sf_dir: str):
    bucket = F.least(
        F.floor(F.col("value") / _PSI_W).cast("bigint"), F.lit(_PSI_BUCKETS - 1)
    )
    cur = (
        read_table(spark, sf_dir, "events")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("nc"))
    )
    base = (
        read_table(spark, _DRIFT_BASELINE_DIR, "events")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("nb"))
    )
    grid = spark.range(_PSI_BUCKETS).select(F.col("id").alias("bucket"))
    m = (
        grid.join(cur, "bucket", "left")
        .join(base, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("nc", F.lit(0)).cast("bigint").alias("nc"),
            F.coalesce("nb", F.lit(0)).cast("bigint").alias("nb"),
        )
    )
    m = share(m)  # two consumers: rows + totals
    tot = m.agg(
        F.sum("nc").cast("bigint").alias("nct"),
        F.sum("nb").cast("bigint").alias("nbt"),
    )
    t = m.crossJoin(F.broadcast(tot))
    pc = (F.col("nc") + 1).cast("double") / (F.col("nct") + _PSI_BUCKETS).cast("double")
    pb = (F.col("nb") + 1).cast("double") / (F.col("nbt") + _PSI_BUCKETS).cast("double")
    r = t.select(
        "bucket",
        "nc",
        "nb",
        pc.alias("pc"),
        pb.alias("pb"),
        F.round((pc - pb) * F.log(pc / pb), 9).alias("psi_term"),
    )
    r = share(r)  # two consumers: rows + fold
    total = r.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "psi_term"))),
                lambda s: s["psi_term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("psi_total")
    )
    return r.crossJoin(F.broadcast(total)).select(
        "bucket",
        F.col("nc").alias("n_cur"),
        F.col("nb").alias("n_base"),
        F.col("pc").alias("share_cur"),
        F.col("pb").alias("share_base"),
        "psi_term",
        "psi_total",
    )


# --------------------------------------------------------------------------
# Markov removal-effect attribution (Anderl et al. 2016): the
# data-driven alternative to last-touch.  Each user's journey is the
# ordered touch sequence up to the FIRST purchase (absorbing CONV; ends
# without purchase absorb in NULL); first-order transition counts give
# the chain, and each channel's contribution is its REMOVAL EFFECT —
# the relative drop in P(conversion from START) when that channel's
# state is clamped to zero.
#
# Scale shape: the data-scale work is ONE per-user ordered pass
# (row_number + lead windows, user-partitioned) collapsing events to a
# <= 30-cell transition-count table; the absorbing-chain solve runs on
# that MODEL-sized table driver-side (the kmeans/BPE trainer precedent
# — collects ~30 integers, never data).  Bit-exactness: both engines
# run the IDENTICAL fixed iteration — 24 rounds, states in fixed
# alphabetical order, left-associated adds, integer-count divisions —
# Python floats and DuckDB doubles are the same IEEE ops in the same
# order (the oracle replays the solve in ONE list_reduce over a 25-slot
# LIST accumulator; struct accumulators are the documented DuckDB bug).
# --------------------------------------------------------------------------
_MKV_CH = ("click", "error", "signup", "view")  # alphabetical, fixed
_MKV_STATES = ("START",) + _MKV_CH
_MKV_ROUNDS = 24


def _mkv_transition_sql() -> str:
    return """
    e AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    pu AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'purchase' THEN rn END) AS prn
      FROM e GROUP BY user_id
    ),
    k AS (
      SELECT e.user_id, e.event_type, e.rn, pu.prn
      FROM e JOIN pu USING (user_id)
      WHERE pu.prn IS NULL OR e.rn < pu.prn
    ),
    k2 AS (
      SELECT *,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nxt,
             MIN(rn) OVER (PARTITION BY user_id) AS mn
      FROM k
    ),
    trans AS (
      SELECT event_type AS f,
             COALESCE(nxt, CASE WHEN prn IS NOT NULL THEN 'CONV'
                                ELSE 'NULLS' END) AS t
      FROM k2
      UNION ALL
      SELECT 'START', event_type FROM k2 WHERE rn = mn
      UNION ALL
      SELECT 'START', 'CONV' FROM pu WHERE prn = 1
    ),
    tc AS (
      SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n FROM trans GROUP BY f, t
    )
    """


def _mkv_oracle() -> str:
    # Wide 1-row pivot: p_{fi}_{ti} = n / n_from (0 when the from-state
    # never occurs), f over states, t over channels + CONV.
    tos = list(_MKV_CH) + ["CONV"]
    pivots, nfs = [], []
    for fi, f in enumerate(_MKV_STATES):
        nfs.append(
            f"CAST(SUM(CASE WHEN f = '{f}' THEN n ELSE 0 END) AS BIGINT) AS nf{fi}"
        )
        for ti, t in enumerate(tos):
            pivots.append(
                f"CAST(SUM(CASE WHEN f = '{f}' AND t = '{t}' THEN n ELSE 0 END)"
                f" AS BIGINT) AS n{fi}_{ti}"
            )
    pcols = ",\n             ".join(
        f"CASE WHEN nf{fi} > 0 THEN CAST(n{fi}_{ti} AS DOUBLE)"
        f" / CAST(nf{fi} AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS p{fi}_{ti}"
        for fi in range(5)
        for ti in range(5)
    )

    # One list_reduce: 25-slot accumulator, layout a[solve*5 + state + 1]
    # with solves [none, click, error, signup, view].
    slots = []
    for solve in range(5):  # 0 = none, 1..4 = clamp channel solve-1
        for si in range(5):  # state index into _MKV_STATES
            acc = "CAST(0 AS DOUBLE)"
            for ti in range(4):  # channel targets, alphabetical
                if solve >= 1 and ti == solve - 1:
                    x = "CAST(0 AS DOUBLE)"
                else:
                    x = f"a[{solve * 5 + ti + 2}]"  # state idx ti+1
                acc = f"({acc} + p{si}_{ti} * {x})"
            acc = f"({acc} + p{si}_4)"  # CONV term, x = 1
            slots.append(acc)
    fold = (
        "list_reduce(list_prepend("
        f"[{', '.join(['CAST(0 AS DOUBLE)'] * 25)}], "
        f"list_transform(range({_MKV_ROUNDS}), i -> [CAST(0 AS DOUBLE)])), "
        f"(a, x) -> [{', '.join(slots)}])"
    )

    res_terms = []
    for j in range(1, 5):
        res_terms.append(
            f"CASE WHEN r[1] > 0 THEN CAST(1 AS DOUBLE) - r[{j * 5 + 1}] / r[1] END"
        )
    sum_re = res_terms[0]
    for t in res_terms[1:]:
        sum_re = f"(({sum_re}) + ({t}))"
    rows = "\n      UNION ALL ".join(
        f"SELECT '{ch}' AS channel, {res_terms[j]} AS removal_effect FROM solved"
        for j, ch in enumerate(_MKV_CH)
    )
    return f"""
    WITH {_mkv_transition_sql().strip().rstrip()},
    wide AS (
      SELECT {", ".join(nfs)},
             {", ".join(pivots)}
      FROM tc
    ),
    pw AS (
      SELECT {pcols}
      FROM wide
    ),
    solved AS (
      SELECT {fold} AS r FROM pw
    ),
    eff AS (
      {rows}
    ),
    base AS (SELECT r[1] AS base_cvr, {sum_re} AS sum_re FROM solved)
    SELECT e.channel, b.base_cvr, e.removal_effect,
           e.removal_effect / b.sum_re AS attribution_share
    FROM eff e CROSS JOIN base b
    """


@register(
    "events_markov_attribution",
    oracle=lambda: _mkv_oracle(),
    tags=("events", "analytics", "attribution", "markov"),
    doc="Markov removal-effect attribution; fixed 24-round absorbing solve.",
)
def events_markov_attribution(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    e = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    e = share(e)  # two consumers: pu + kept rows
    pu = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("rn"))).alias("prn")
    )
    k = e.join(pu, "user_id").filter(
        F.col("prn").isNull() | (F.col("rn") < F.col("prn"))
    )
    wk = Window.partitionBy("user_id").orderBy("rn")
    k2 = k.select(
        "user_id",
        "event_type",
        "rn",
        "prn",
        F.lead("event_type").over(wk).alias("nxt"),
        F.min("rn").over(Window.partitionBy("user_id")).alias("mn"),
    )
    trans = (
        k2.select(
            F.col("event_type").alias("f"),
            F.coalesce(
                "nxt",
                F.when(F.col("prn").isNotNull(), F.lit("CONV")).otherwise(
                    F.lit("NULLS")
                ),
            ).alias("t"),
        )
        .unionByName(
            k2.filter(F.col("rn") == F.col("mn")).select(
                F.lit("START").alias("f"), F.col("event_type").alias("t")
            )
        )
        .unionByName(
            pu.filter(F.col("prn") == 1).select(
                F.lit("START").alias("f"), F.lit("CONV").alias("t")
            )
        )
    )
    tc = trans.groupBy("f", "t").agg(F.count("*").alias("n"))

    # MODEL-sized collect (<= 30 integer cells) — the kmeans/BPE
    # trainer precedent; the solve below mirrors the oracle's fold
    # op-for-op (same rounds, same fixed add order, same divisions).
    cells = {(r["f"], r["t"]): r["n"] for r in tc.collect()}
    nf = {f: sum(n for (ff, _), n in cells.items() if ff == f) for f in _MKV_STATES}
    tos = list(_MKV_CH) + ["CONV"]
    p = {
        (fi, ti): (
            cells.get((f, t), 0) / nf[f] if nf[f] > 0 else 0.0
        )
        for fi, f in enumerate(_MKV_STATES)
        for ti, t in enumerate(tos)
    }
    a = [0.0] * 25
    for _ in range(_MKV_ROUNDS):
        nxt = []
        for solve in range(5):
            for si in range(5):
                acc = 0.0
                for ti in range(4):
                    if solve >= 1 and ti == solve - 1:
                        x = 0.0
                    else:
                        x = a[solve * 5 + ti + 1]
                    acc = acc + p[(si, ti)] * x
                acc = acc + p[(si, 4)]
                nxt.append(acc)
        a = nxt
    base = a[0]
    effects = []
    for j in range(1, 5):
        effects.append(1.0 - a[j * 5] / base if base > 0 else None)
    sum_re = effects[0]
    for t in effects[1:]:
        sum_re = (sum_re + t) if (sum_re is not None and t is not None) else None
    rows = [
        (
            ch,
            float(base),
            effects[j],
            (effects[j] / sum_re) if (effects[j] is not None and sum_re is not None) else None,
        )
        for j, ch in enumerate(_MKV_CH)
    ]
    return spark.createDataFrame(
        rows,
        "channel string, base_cvr double, removal_effect double, "
        "attribution_share double",
    )


# --------------------------------------------------------------------------
# RFM segmentation: every user scored into (recency, frequency,
# monetary) quintiles — the classic CRM segmentation — then the
# 125-cell segment report.  All three quintile assignments ride the
# shared exact_ntile (two-phase distributed ranks + integer NTILE
# arithmetic — users are data-scale, so no partition-less window), with
# user_id as the deterministic tiebreak.  Monetary is the exact-decimal
# purchase sum (0 for non-buyers); recency is integer days since the
# corpus end.  The oracle runs the literal NTILE(5) windows — fine at
# oracle scale, the exact semantics this engine reproduces without the
# single-partition sort.
# --------------------------------------------------------------------------
@register(
    "events_rfm_segments",
    oracle=f"""
    WITH g AS (SELECT MAX(epoch_us(ts)) AS gmax FROM events),
    u AS (
      SELECT user_id,
             (g.gmax - MAX(epoch_us(ts))) // {_KM_DAY_US} AS rec_days,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(12,2)) END), 0) AS DECIMAL(18,2)) AS mon
      FROM events CROSS JOIN g GROUP BY user_id, g.gmax
    ),
    q AS (
      SELECT user_id, rec_days, freq, mon,
             NTILE(5) OVER (ORDER BY rec_days ASC, user_id ASC) AS r_q,
             NTILE(5) OVER (ORDER BY freq DESC, user_id ASC) AS f_q,
             NTILE(5) OVER (ORDER BY mon DESC, user_id ASC) AS m_q
      FROM u
    )
    SELECT r_q, f_q, m_q,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(mon) AS DOUBLE) AS segment_revenue
    FROM q GROUP BY r_q, f_q, m_q
    """,
    tags=("events", "analytics", "segmentation"),
    doc="RFM quintile segmentation via distributed exact NTILE; bit-exact.",
)
def events_rfm_segments(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.stats import exact_ntile

    ev = read_table(spark, sf_dir, "events").withColumn("tus", F.unix_micros("ts"))
    g = ev.agg(F.max("tus").alias("gmax"))
    u = (
        ev.crossJoin(F.broadcast(g))  # 1-row scalar by construction
        .groupBy("user_id", "gmax")
        .agg(
            F.max("tus").alias("last_tus"),
            F.count("*").cast("bigint").alias("freq"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.col("value").cast("decimal(12,2)"),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(18,2)")
            .alias("mon"),
        )
        .select(
            "user_id",
            F.expr(f"(gmax - last_tus) div {_KM_DAY_US}").alias("rec_days"),
            "freq",
            "mon",
        )
    )
    q = exact_ntile(u, ["rec_days", "user_id"], 5, out_col="r_q")
    q = exact_ntile(
        q.withColumn("_neg_f", -F.col("freq")), ["_neg_f", "user_id"], 5, out_col="f_q"
    ).drop("_neg_f")
    q = exact_ntile(
        q.withColumn("_neg_m", -F.col("mon")), ["_neg_m", "user_id"], 5, out_col="m_q"
    ).drop("_neg_m")
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("mon").cast("double").alias("segment_revenue"),
    )


# --------------------------------------------------------------------------
# Error-rate monitor with Wilson score bounds: per hour, the error
# share and its 95% Wilson interval — the SRE alerting readout that
# stays sane at tiny per-hour counts (unlike the normal interval).
# Wilson needs only +,*,/,sqrt — all IEEE correctly-rounded, so the
# whole readout is bit-exact with NO rounding step (unlike the
# ln-bearing monitors).  One combinable hourly aggregate; alert =
# lower bound above the 10% SLO.
# --------------------------------------------------------------------------
_WILSON_Z = 1.959964


@register(
    "events_error_rate_wilson",
    oracle=f"""
    WITH h AS (
      SELECT epoch_us(ts) // 3600000000 AS hour,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS errors
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT hour, n, errors,
             CAST(errors AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
             CAST({_WILSON_Z} AS DOUBLE) AS z,
             CAST(n AS DOUBLE) AS nd
      FROM h
    ),
    w AS (
      SELECT hour, n, errors, rate,
             (rate + (z * z) / (CAST(2 AS DOUBLE) * nd)
              - z * sqrt(rate * (CAST(1 AS DOUBLE) - rate) / nd
                         + (z * z) / (CAST(4 AS DOUBLE) * nd * nd)))
               / (CAST(1 AS DOUBLE) + (z * z) / nd) AS wilson_lo,
             (rate + (z * z) / (CAST(2 AS DOUBLE) * nd)
              + z * sqrt(rate * (CAST(1 AS DOUBLE) - rate) / nd
                         + (z * z) / (CAST(4 AS DOUBLE) * nd * nd)))
               / (CAST(1 AS DOUBLE) + (z * z) / nd) AS wilson_hi
      FROM m
    )
    SELECT hour, n, errors, rate, wilson_lo, wilson_hi,
           wilson_lo > CAST(0.1 AS DOUBLE) AS alert
    FROM w
    """,
    tags=("events", "dq", "monitoring", "stats"),
    doc="Hourly error rate with 95% Wilson bounds; bit-exact, no rounding.",
)
def events_error_rate_wilson(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    h = ev.groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hour")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "error").cast("int")).cast("bigint").alias(
            "errors"
        ),
    )
    z = F.lit(_WILSON_Z)
    nd = F.col("n").cast("double")
    rate = F.col("errors").cast("double") / nd
    m = h.select("hour", "n", "errors", rate.alias("rate"))
    nd = F.col("n").cast("double")
    half = (F.lit(1.0) - F.col("rate")) * F.col("rate")
    root = F.sqrt(half / nd + (z * z) / (F.lit(4.0) * nd * nd))
    denom = F.lit(1.0) + (z * z) / nd
    center = F.col("rate") + (z * z) / (F.lit(2.0) * nd)
    lo = (center - z * root) / denom
    hi = (center + z * root) / denom
    return m.select(
        "hour",
        "n",
        "errors",
        "rate",
        lo.alias("wilson_lo"),
        hi.alias("wilson_hi"),
        (lo > F.lit(0.1)).alias("alert"),
    )


# --------------------------------------------------------------------------
# Revenue inequality (Gini coefficient) over per-user purchase totals —
# the whale-curve's scalar summary.  INTEGER-exact end to end: revenue
# in exact cents, ranks from the two-phase distributed prefix scan
# (users are data-scale — no partition-less window), the rank-weighted
# sum Σ i·x_i in DECIMAL(38,0) (HUGEINT replay in the oracle), and the
# classic G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n evaluated in one fixed IEEE
# tree at the very end.
# --------------------------------------------------------------------------
@register(
    "events_gini_revenue",
    oracle="""
    WITH rev AS (
      SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    r AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents ASC, user_id ASC) AS rk
      FROM rev
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS HUGEINT) AS total,
             SUM(CAST(rk AS HUGEINT) * cents) AS s1
      FROM r
    )
    SELECT n, CAST(total AS BIGINT) AS total_cents,
           CAST(2 AS DOUBLE) * CAST(s1 AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
           - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
    FROM s
    """,
    tags=("events", "analytics", "stats"),
    doc="Gini coefficient of user revenue; integer-exact rank-weighted sums.",
)
def events_gini_revenue(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.prefix import running_sum

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    rev = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents")
    )
    r = running_sum(
        rev.withColumn("_one", F.lit(1)), ["cents", "user_id"], "_one", out_col="rk"
    ).drop("_one")
    s = r.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("total"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("cents")).alias("s1"),
    )
    return s.select(
        "n",
        F.col("total").cast("bigint").alias("total_cents"),
        (
            F.lit(2.0) * F.col("s1").cast("double")
            / (F.col("n").cast("double") * F.col("total").cast("double"))
            - (F.col("n") + 1).cast("double") / F.col("n").cast("double")
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Classical-statistics tier, round 11.  Design rules shared by every
# entry below (the mannwhitney/gini doctrine):
#   * all rank/count/sum intermediates are EXACT integers (cents via
#     DECIMAL(12,2)*100, 2x-midranks so ties stay integral), carried as
#     BIGINT/DECIMAL(38,0) on the Spark side and BIGINT/HUGEINT in the
#     oracle;
#   * doubles appear only in the FINAL projection, where every operand
#     is an exact integer converted once (correctly-rounded cast) and
#     the expression tree is written in the SAME fixed order on both
#     sides — +, -, *, /, sqrt are IEEE-correctly-rounded, so the
#     result is bit-identical in any engine (no exp/ln anywhere);
#   * no partition-less ordered window at data scale: global prefix
#     counts ride operators/prefix.running_sum (two-phase distributed
#     scan); windows appear only over frames bounded by construction
#     (5 event types, 720 hours) and say so.
# --------------------------------------------------------------------------
def _cents():
    return (F.col("value").cast(_DEC) * 100).cast("bigint")


_SQL_CENTS = "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"


@register(
    "events_kruskal_wallis",
    oracle=f"""
    WITH p AS (
      SELECT {_SQL_CENTS} AS v, event_type FROM events
    ),
    g AS (
      SELECT v,
             {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{i}" for i, t in enumerate(EVENT_TYPES))},
             CAST(COUNT(*) AS BIGINT) AS nv
      FROM p GROUP BY v
    ),
    c AS (
      SELECT *,
             CAST(SUM(nv) OVER (ORDER BY v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - nv AS below
      FROM g
    ),
    s AS (
      SELECT CAST(SUM(nv) AS BIGINT) AS n,
             {", ".join(f"CAST(SUM(n_{i}) AS BIGINT) AS c_{i}" for i in range(len(EVENT_TYPES)))},
             {", ".join(f"SUM(CAST(n_{i} AS HUGEINT) * (2 * below + nv + 1)) AS trs_{i}" for i in range(len(EVENT_TYPES)))},
             SUM(CAST(nv AS HUGEINT) * nv * nv - nv) AS tie
      FROM c
    ),
    hh AS (
      SELECT n, tie,
             CAST(12 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
               * ({" + ".join(f"(CAST(CAST(trs_{i} AS VARCHAR) AS DOUBLE) / CAST(2 AS DOUBLE)) * (CAST(CAST(trs_{i} AS VARCHAR) AS DOUBLE) / CAST(2 AS DOUBLE)) / CAST(c_{i} AS DOUBLE)" for i in range(len(EVENT_TYPES)))})
               - CAST(3 AS DOUBLE) * CAST(n + 1 AS DOUBLE) AS h
      FROM s
    )
    SELECT n, CAST(4 AS INT) AS dof, h,
           h / (CAST(1 AS DOUBLE)
                - CAST(CAST(tie AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(CAST(n AS HUGEINT) * n * n - n AS VARCHAR)
                         AS DOUBLE)) AS h_tie_adj
    FROM hh
    """,
    tags=("events", "stats", "abtest"),
    doc="Kruskal-Wallis H across the five event types on value; midrank "
    "ties via exact 2x-ranksum integers, distributed prefix scan "
    "(running_sum) — no global window at any distinct-value cardinality.",
)
def events_kruskal_wallis(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.prefix import running_sum

    k = len(EVENT_TYPES)
    p = read_table(spark, sf_dir, "events").select(
        _cents().alias("v"), "event_type"
    )
    g = p.groupBy("v").agg(
        *[
            F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{i}")
            for i, t in enumerate(EVENT_TYPES)
        ],
        F.count("*").alias("nv"),
    )
    c = running_sum(g, ["v"], "nv", out_col="_upto").withColumn(
        "below", F.col("_upto") - F.col("nv")
    )
    rank_weight = 2 * F.col("below") + F.col("nv") + 1
    s = c.agg(
        F.sum("nv").cast("bigint").alias("n"),
        *[F.sum(f"n_{i}").cast("bigint").alias(f"c_{i}") for i in range(k)],
        *[
            F.sum(F.col(f"n_{i}").cast("decimal(38,0)") * rank_weight).alias(
                f"trs_{i}"
            )
            for i in range(k)
        ],
        F.sum(
            F.col("nv").cast("decimal(38,0)") * F.col("nv") * F.col("nv")
            - F.col("nv")
        ).alias("tie"),
    )
    nd = F.col("n").cast("double")
    n1d = (F.col("n") + 1).cast("double")
    term = None
    for i in range(k):
        r = F.col(f"trs_{i}").cast("double") / F.lit(2.0)
        t_i = r * r / F.col(f"c_{i}").cast("double")
        term = t_i if term is None else term + t_i
    h = F.lit(12.0) / (nd * n1d) * term - F.lit(3.0) * n1d
    hh = s.select("n", "tie", h.alias("h"))
    cub = (
        F.col("n").cast("decimal(38,0)") * F.col("n") * F.col("n") - F.col("n")
    ).cast("double")
    return hh.select(
        "n",
        F.lit(4).alias("dof"),
        "h",
        (F.col("h") / (F.lit(1.0) - F.col("tie").cast("double") / cub)).alias(
            "h_tie_adj"
        ),
    )


@register(
    "events_chi2_independence",
    oracle=f"""
    WITH p AS (
      SELECT event_type,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM events
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {", ".join(f"CAST(SUM(CASE WHEN variant = {a} AND event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS o_{a}_{j}" for a in (0, 1) for j, t in enumerate(EVENT_TYPES))},
             {", ".join(f"CAST(SUM(CASE WHEN variant = {a} THEN 1 ELSE 0 END) AS BIGINT) AS r_{a}" for a in (0, 1))},
             {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS k_{j}" for j, t in enumerate(EVENT_TYPES))}
      FROM p
    )
    SELECT n, CAST(4 AS INT) AS dof,
           {" + ".join(f"(CASE WHEN r_{a} * k_{j} = 0 THEN CAST(0 AS DOUBLE) ELSE (CAST(o_{a}_{j} AS DOUBLE) - CAST(r_{a} AS DOUBLE) * CAST(k_{j} AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(o_{a}_{j} AS DOUBLE) - CAST(r_{a} AS DOUBLE) * CAST(k_{j} AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(r_{a} AS DOUBLE) * CAST(k_{j} AS DOUBLE) / CAST(n AS DOUBLE)) END)" for a in (0, 1) for j in range(len(EVENT_TYPES)))} AS chi2,
           sqrt(({" + ".join(f"(CASE WHEN r_{a} * k_{j} = 0 THEN CAST(0 AS DOUBLE) ELSE (CAST(o_{a}_{j} AS DOUBLE) - CAST(r_{a} AS DOUBLE) * CAST(k_{j} AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(o_{a}_{j} AS DOUBLE) - CAST(r_{a} AS DOUBLE) * CAST(k_{j} AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(r_{a} AS DOUBLE) * CAST(k_{j} AS DOUBLE) / CAST(n AS DOUBLE)) END)" for a in (0, 1) for j in range(len(EVENT_TYPES)))})
                / CAST(n AS DOUBLE)) AS cramers_v
    FROM s
    """,
    tags=("events", "stats", "abtest"),
    doc="Chi-square independence test over the variant x event_type "
    "contingency table with Cramér's V effect size; one map-side-"
    "combinable aggregate, the statistic assembled from exact integer "
    "cell counts in fixed expression order.",
)
def events_chi2_independence(spark: SparkSession, sf_dir: str):
    # Shared with the streaming twin (streaming/abtest.py::
    # chi2_maintenance_sink): ONE definition of the contingency cells
    # and of the statistic, so stream == batch is a code-level identity.
    from fotmobdatapipeline_spark.operators.abtest import chi2_counts, chi2_report

    return chi2_report(chi2_counts(read_table(spark, sf_dir, "events")))


def _anova_f_wide(s, k: int, n_col: str = "n"):
    """Final fixed-order F projection shared by events_anova_f and
    events_levene_bf: ``s`` is a 1-row frame with exact-integer columns
    n, c_i (group counts), s_i (group sums, DECIMAL(38,0)), q_i (group
    sum-of-squares, DECIMAL(38,0)).  Every double is converted once
    from an exact integer; expression order is fixed (i ascending), so
    the result is bit-identical to the oracle's identical SQL tree."""
    nd = F.col(n_col).cast("double")
    between = None
    within_q = None
    grand = None
    for i in range(k):
        sd = F.col(f"s_{i}").cast("double")
        t_i = sd * sd / F.col(f"c_{i}").cast("double")
        between = t_i if between is None else between + t_i
        qd = F.col(f"q_{i}").cast("double")
        within_q = qd if within_q is None else within_q + qd
        grand = sd if grand is None else grand + sd
    ssb = between - grand * grand / nd
    ssw = within_q - between
    f_stat = (ssb / F.lit(float(k - 1))) / (ssw / (nd - F.lit(float(k))))
    return s.select(
        F.col(n_col).alias("n"),
        F.lit(k - 1).alias("dof_between"),
        (F.col(n_col) - k).cast("bigint").alias("dof_within"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        f_stat.alias("f_stat"),
    )


def _sql_anova_f(k: int, from_clause: str) -> str:
    """SQL twin of _anova_f_wide over a source exposing (v, g 0-indexed
    group) rows; mirrors the fixed expression order verbatim."""
    between = " + ".join(
        f"(CAST(s_{i} AS DOUBLE) * CAST(s_{i} AS DOUBLE) / CAST(c_{i} AS DOUBLE))"
        for i in range(k)
    )
    within_q = " + ".join(f"CAST(q_{i} AS DOUBLE)" for i in range(k))
    grand = " + ".join(f"CAST(s_{i} AS DOUBLE)" for i in range(k))
    return f"""
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {", ".join(f"CAST(SUM(CASE WHEN g = {i} THEN 1 ELSE 0 END) AS BIGINT) AS c_{i}" for i in range(k))},
             {", ".join(f"SUM(CASE WHEN g = {i} THEN CAST(v AS HUGEINT) ELSE 0 END) AS s_{i}" for i in range(k))},
             {", ".join(f"SUM(CASE WHEN g = {i} THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS q_{i}" for i in range(k))}
      FROM {from_clause}
    ),
    f AS (
      SELECT n,
             ({between}) - (({grand}) * ({grand})) / CAST(n AS DOUBLE) AS ssb,
             ({within_q}) - ({between}) AS ssw
      FROM s
    )
    SELECT n, CAST({k - 1} AS INT) AS dof_between,
           CAST(n - {k} AS BIGINT) AS dof_within, ssb, ssw,
           (ssb / CAST({float(k - 1)!r} AS DOUBLE))
             / (ssw / (CAST(n AS DOUBLE) - CAST({float(k)!r} AS DOUBLE))) AS f_stat
    FROM f
    """


def _wide_group_sums(p, k: int):
    """One map-side-combinable aggregate producing the n/c_i/s_i/q_i
    row _anova_f_wide consumes; ``p`` has columns (v BIGINT, g INT)."""
    return p.agg(
        F.count("*").cast("bigint").alias("n"),
        *[F.sum((F.col("g") == i).cast("long")).alias(f"c_{i}") for i in range(k)],
        *[
            F.sum(
                F.when(F.col("g") == i, F.col("v").cast("decimal(38,0)")).otherwise(
                    F.lit(0).cast("decimal(38,0)")
                )
            ).alias(f"s_{i}")
            for i in range(k)
        ],
        *[
            F.sum(
                F.when(
                    F.col("g") == i,
                    F.col("v").cast("decimal(38,0)") * F.col("v"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias(f"q_{i}")
            for i in range(k)
        ],
    )


_SQL_TYPE_IDX = (
    "CASE "
    + " ".join(
        f"WHEN event_type = '{t}' THEN {i}" for i, t in enumerate(EVENT_TYPES)
    )
    + " END"
)


@register(
    "events_anova_f",
    oracle=f"""
    WITH p AS (
      SELECT {_SQL_CENTS} AS v, {_SQL_TYPE_IDX} AS g FROM events
    ),
    {_sql_anova_f(len(EVENT_TYPES), "p")}
    """,
    tags=("events", "stats"),
    doc="One-way ANOVA F across the five event types on value cents; "
    "exact integer group sums/sum-of-squares in one aggregate, F "
    "assembled in fixed order — bit-identical across engines.",
)
def events_anova_f(spark: SparkSession, sf_dir: str):
    k = len(EVENT_TYPES)
    type_idx = F.coalesce(
        *[
            F.when(F.col("event_type") == t, F.lit(i))
            for i, t in enumerate(EVENT_TYPES)
        ]
    )
    p = read_table(spark, sf_dir, "events").select(
        _cents().alias("v"), type_idx.alias("g")
    )
    return _anova_f_wide(_wide_group_sums(p, k), k)


@register(
    "events_levene_bf",
    oracle=f"""
    WITH raw AS (
      SELECT {_SQL_CENTS} AS x, {_SQL_TYPE_IDX} AS g FROM events
    ),
    med AS (
      SELECT g, CAST(2 * PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY x)
                 AS BIGINT) AS med2
      FROM raw GROUP BY g
    ),
    p AS (
      SELECT ABS(2 * raw.x - med.med2) AS v, raw.g
      FROM raw JOIN med ON raw.g = med.g
    ),
    {_sql_anova_f(len(EVENT_TYPES), "p")}
    """,
    tags=("events", "stats", "robust"),
    doc="Brown-Forsythe (median-centred Levene) variance-homogeneity "
    "test across event types: per-group exact medians via the "
    "distributed rank-selection quantile operator, half-cent integer "
    "absolute deviations, then the shared fixed-order ANOVA F.  The "
    "5-row median table is broadcast — the event scan never shuffles "
    "for the join.",
)
def events_levene_bf(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.stats import exact_group_quantiles

    k = len(EVENT_TYPES)
    type_idx = F.coalesce(
        *[
            F.when(F.col("event_type") == t, F.lit(i))
            for i, t in enumerate(EVENT_TYPES)
        ]
    )
    raw = read_table(spark, sf_dir, "events").select(
        _cents().alias("x"), type_idx.alias("g")
    )
    med = exact_group_quantiles(raw, "x", ["g"], ps=(0.5,), names=("p50",)).select(
        F.col("g").alias("_mg"), (F.lit(2.0) * F.col("p50")).cast("bigint").alias("med2")
    )
    p = raw.join(F.broadcast(med), raw["g"] == med["_mg"]).select(
        F.abs(2 * F.col("x") - F.col("med2")).alias("v"), "g"
    )
    return _anova_f_wide(_wide_group_sums(p, k), k)


@register(
    "events_spearman_corr",
    oracle=f"""
    WITH rev AS (
      SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    gs AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt FROM rev GROUP BY s),
    rs AS (
      SELECT s, 2 * CAST(SUM(cnt) OVER (ORDER BY s ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - cnt + 1 AS r2
      FROM gs
    ),
    gc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM rev GROUP BY c),
    rc AS (
      SELECT c, 2 * CAST(SUM(cnt) OVER (ORDER BY c ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - cnt + 1 AS r2
      FROM gc
    ),
    j AS (
      SELECT rs.r2 AS rx, rc.r2 AS ry
      FROM rev JOIN rs ON rev.s = rs.s JOIN rc ON rev.c = rc.c
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rx) AS HUGEINT) AS sx, CAST(SUM(ry) AS HUGEINT) AS sy,
             SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
             SUM(CAST(ry AS HUGEINT) * ry) AS syy,
             SUM(CAST(rx AS HUGEINT) * ry) AS sxy
      FROM j
    )
    SELECT n,
           (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho
    FROM t
    """,
    tags=("events", "stats", "analytics"),
    doc="Spearman rank correlation between per-user purchase spend and "
    "purchase count; midrank ties via exact 2x-rank integers from two "
    "distributed prefix scans (running_sum), Pearson assembled from six "
    "exact integer sums — no global window at any user cardinality.",
)
def events_spearman_corr(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.prefix import running_sum

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    rev = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast(_DEC) * 100).cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("c"),
    ).transform(share)  # three consumers: two rank scans + the join
    # 2x-midrank of a tie run ending at inclusive prefix u with size cnt:
    # 2*(u - cnt) + cnt + 1 = 2u - cnt + 1 — always an integer.
    gs = rev.groupBy("s").agg(F.count("*").cast("bigint").alias("cnt"))
    rs = running_sum(gs, ["s"], "cnt", out_col="_u").select(
        "s", (2 * F.col("_u") - F.col("cnt") + 1).alias("rx")
    )
    gc = rev.groupBy("c").agg(F.count("*").cast("bigint").alias("cnt"))
    rc = running_sum(gc, ["c"], "cnt", out_col="_u").select(
        "c", (2 * F.col("_u") - F.col("cnt") + 1).alias("ry")
    )
    j = rev.join(rs, "s").join(rc, "c").select("rx", "ry")
    t = j.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rx").cast("decimal(38,0)").alias("sx"),
        F.sum("ry").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry").cast("decimal(38,0)") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("ry")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    return t.select(
        "n",
        (
            (nd * F.col("sxy").cast("double") - sxd * syd)
            / (
                F.sqrt(nd * F.col("sxx").cast("double") - sxd * sxd)
                * F.sqrt(nd * F.col("syy").cast("double") - syd * syd)
            )
        ).alias("rho"),
    )


# BH step-up thresholds in z-space for m=5 hypotheses at q=0.1:
# p_(i) <= q*i/m  <=>  |z|_(i) >= Phi^-1(1 - q*i/(2m)).  The five
# constants are computed ONCE from Python's stdlib NormalDist and
# embedded as literals in BOTH engines' expressions — no erf/exp in
# either engine, so no transcendental-portability hazard (the doctrine
# at plans/llmdata.py text_diversity_simpson).
_BH_Q = 0.1
_BH_THRESHOLDS = (
    2.3263478740408408,  # i=1: Phi^-1(1 - 0.01)
    2.053748910631822,
    1.8807936081512504,
    1.7506860712521695,
    1.6448536269514715,  # i=5: Phi^-1(1 - 0.05)
)


@register(
    "events_bh_fdr",
    oracle=f"""
    WITH pu AS (
      SELECT user_id,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant,
             {", ".join(f"MAX(CASE WHEN event_type = '{t}' AND value > 300 THEN 1 ELSE 0 END) AS f_{i}" for i, t in enumerate(EVENT_TYPES))}
      FROM events GROUP BY user_id
    ),
    w AS (
      SELECT {", ".join(f"CAST(SUM(CASE WHEN variant = {a} THEN 1 ELSE 0 END) AS BIGINT) AS n_{a}" for a in (0, 1))},
             {", ".join(f"CAST(SUM(CASE WHEN variant = {a} THEN f_{i} ELSE 0 END) AS BIGINT) AS x_{a}_{i}" for a in (0, 1) for i in range(len(EVENT_TYPES)))}
      FROM pu
    ),
    z AS (
      {" UNION ALL ".join(
        f'''SELECT '{t}' AS event_type,
             CASE WHEN x_0_{i} + x_1_{i} = 0 OR x_0_{i} + x_1_{i} = n_0 + n_1
                  THEN CAST(0 AS DOUBLE) ELSE
             (CAST(x_1_{i} AS DOUBLE) / CAST(n_1 AS DOUBLE)
              - CAST(x_0_{i} AS DOUBLE) / CAST(n_0 AS DOUBLE))
             / sqrt(CAST(x_0_{i} + x_1_{i} AS DOUBLE) / CAST(n_0 + n_1 AS DOUBLE)
                    * (CAST(1 AS DOUBLE) - CAST(x_0_{i} + x_1_{i} AS DOUBLE)
                       / CAST(n_0 + n_1 AS DOUBLE))
                    * (CAST(1 AS DOUBLE) / CAST(n_0 AS DOUBLE)
                       + CAST(1 AS DOUBLE) / CAST(n_1 AS DOUBLE))) END AS z_stat
           FROM w''' for i, t in enumerate(EVENT_TYPES))}
    ),
    r AS (
      SELECT event_type, z_stat,
             CAST(ROW_NUMBER() OVER (ORDER BY ABS(z_stat) DESC, event_type ASC)
               AS INT) AS p_rank
      FROM z
    ),
    thr(p_rank, threshold) AS (
      VALUES {", ".join(f"({i + 1}, CAST('{t!r}' AS DOUBLE))" for i, t in enumerate(_BH_THRESHOLDS))}
    ),
    passed AS (
      SELECT r.*, thr.threshold,
             CASE WHEN ABS(r.z_stat) >= thr.threshold THEN r.p_rank ELSE 0 END AS hit
      FROM r JOIN thr ON r.p_rank = thr.p_rank
    )
    SELECT event_type, z_stat, p_rank, threshold,
           p_rank <= (SELECT MAX(hit) FROM passed) AS reject
    FROM passed
    """,
    tags=("events", "stats", "abtest"),
    doc="Benjamini-Hochberg FDR step-up (q=0.1) over per-event-type "
    "two-proportion A/B z-tests: thresholds precomputed in z-space as "
    "literals (no erf in either engine); the windows run over a 5-row "
    "frame — bounded by construction.",
)
def events_bh_fdr(spark: SparkSession, sf_dir: str):
    k = len(EVENT_TYPES)
    pu = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            *[
                F.max(
                    ((F.col("event_type") == t) & (F.col("value") > 300)).cast(
                        "int"
                    )
                ).alias(f"f_{i}")
                for i, t in enumerate(EVENT_TYPES)
            ]
        )
        .withColumn("variant", _ab_variant())
    )
    w = pu.agg(
        *[
            F.sum((F.col("variant") == a).cast("long")).alias(f"n_{a}")
            for a in (0, 1)
        ],
        *[
            F.sum(F.when(F.col("variant") == a, F.col(f"f_{i}")).otherwise(0))
            .cast("bigint")
            .alias(f"x_{a}_{i}")
            for a in (0, 1)
            for i in range(k)
        ],
    )
    # CHECKPOINT — the 1-row wide aggregate fans out into 5 union
    # branches (one per event type); without a materialization each
    # branch re-runs the full events scan + aggregate (ReusedExchange
    # is best-effort, not a contract).  One row: free.
    w = share(w)
    rows = []
    for i, t in enumerate(EVENT_TYPES):
        p0 = F.col(f"x_0_{i}").cast("double") / F.col("n_0").cast("double")
        p1 = F.col(f"x_1_{i}").cast("double") / F.col("n_1").cast("double")
        pp = (F.col(f"x_0_{i}") + F.col(f"x_1_{i}")).cast("double") / (
            F.col("n_0") + F.col("n_1")
        ).cast("double")
        se = F.sqrt(
            pp
            * (F.lit(1.0) - pp)
            * (
                F.lit(1.0) / F.col("n_0").cast("double")
                + F.lit(1.0) / F.col("n_1").cast("double")
            )
        )
        tot = F.col(f"x_0_{i}") + F.col(f"x_1_{i}")
        z_expr = F.when(
            (tot == 0) | (tot == F.col("n_0") + F.col("n_1")), F.lit(0.0)
        ).otherwise((p1 - p0) / se)
        rows.append(w.select(F.lit(t).alias("event_type"), z_expr.alias("z_stat")))
    z = rows[0]
    for r_df in rows[1:]:
        z = z.unionByName(r_df)
    # 5-row frame: the partition-less windows below are bounded by
    # construction (|EVENT_TYPES| rows), the documented exception to
    # the no-global-window rule.
    rank_w = Window.orderBy(F.abs(F.col("z_stat")).desc(), F.col("event_type").asc())
    thr = F.element_at(
        F.array(*[F.lit(t) for t in _BH_THRESHOLDS]), F.col("p_rank")
    )
    ranked = z.withColumn("p_rank", F.row_number().over(rank_w)).withColumn(
        "threshold", thr
    )
    hit = F.when(
        F.abs(F.col("z_stat")) >= F.col("threshold"), F.col("p_rank")
    ).otherwise(F.lit(0))
    kmax = F.max(hit).over(Window.partitionBy())
    return ranked.select(
        "event_type",
        "z_stat",
        "p_rank",
        "threshold",
        (F.col("p_rank") <= kmax).alias("reject"),
    )


# --------------------------------------------------------------------------
# Autocorrelation of the hourly revenue series at lags 1..6.  The
# fractional mean is eliminated by scaling through n: with S = sum(x),
# sum((x_t - S/n)(x_{t+k} - S/n)) * n^2 = sum((n*x_t - S)(n*x_{t+k} - S))
# — every factor is an exact BIGINT (n <= hours-of-history, so n*x is
# far inside int64 even at sf100), products/sums carried as
# DECIMAL(38,0)/HUGEINT, one double division at the end.  Missing hours
# are excluded pairwise (calendar-lag join), identically on both sides.
# Scale shape: the events scan collapses to the hourly table first
# (map-side combinable), so every join below is over <= hours rows —
# model-sized by construction; the 6-row lag frame is broadcast.
# --------------------------------------------------------------------------
_ACF_MAX_LAG = 6


@register(
    "events_acf_hourly",
    oracle=f"""
    WITH h AS (
      SELECT epoch_us(ts) // 3600000000 AS ho,
             CAST(SUM({_SQL_CENTS}) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
           FROM h),
    den AS (
      SELECT SUM(CAST(n * x - s AS HUGEINT) * (n * x - s)) AS d
      FROM h, st
    ),
    lags AS (SELECT CAST(UNNEST(range(1, {_ACF_MAX_LAG + 1})) AS BIGINT) AS lag),
    num AS (
      SELECT lags.lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(CAST(st.n * a.x - st.s AS HUGEINT)
                 * (st.n * b.x - st.s)) AS nu
      FROM lags, st, h a JOIN h b ON b.ho = a.ho + lags.lag
      GROUP BY lags.lag
    )
    SELECT num.lag, num.n_pairs,
           CAST(CAST(nu AS VARCHAR) AS DOUBLE)
             / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS acf
    FROM num, den
    """,
    tags=("events", "time-series", "stats"),
    doc="Exact hourly-revenue autocorrelation at lags 1..6 via the "
    "n-scaled integer identity — no fractional mean, bit-identical.",
)
def events_acf_hourly(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.expr("unix_micros(ts) div 3600000000").alias("ho"),
            _cents().alias("c"),
        )
        .groupBy("ho")
        .agg(F.sum("c").cast("bigint").alias("x"))
        .transform(share)  # three consumers: stats, den, pairs
    )
    st = h.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("x").cast("bigint").alias("s")
    )
    dev = F.col("n") * F.col("x") - F.col("s")  # BIGINT-exact
    den = h.crossJoin(F.broadcast(st)).agg(
        F.sum(dev.cast("decimal(19,0)") * dev).alias("d")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = h.select(F.col("ho").alias("ho_a"), F.col("x").alias("x_a"))
    b = h.select(F.col("ho").alias("ho_b"), F.col("x").alias("x_b"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("ho_b") == F.col("ho_a") + F.col("lag"))
        .crossJoin(F.broadcast(st))
    )
    dev_a = F.col("n") * F.col("x_a") - F.col("s")
    dev_b = F.col("n") * F.col("x_b") - F.col("s")
    num = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(dev_a.cast("decimal(19,0)") * dev_b).alias("nu"),
    )
    return num.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        (F.col("nu").cast("double") / F.col("d").cast("double")).alias("acf"),
    )


# --------------------------------------------------------------------------
# Single best changepoint of the hourly revenue series (the binary-
# segmentation step): for every split k, SSE(left)+SSE(right) from
# inclusive prefix sums P_k (sum) and Q_k (sum of squares), argmin with
# deterministic tie-break on the split index.  Units are whole DOLLARS
# (floor) so Q stays in int64 out to sf100-class hourly volumes
# (cents^2 would overflow by sf10 — documented trade).  P_k <= 2^53 at
# any plausible scale, so P_k*P_k/k is IEEE-exact-input arithmetic:
# each double op is correctly rounded from identical operands on both
# engines.  Prefix sums ride running_sum (distributed); the total row
# is a broadcast scalar.
# --------------------------------------------------------------------------
@register(
    "events_changepoint_hourly",
    oracle="""
    WITH h AS (
      SELECT epoch_us(ts) // 3600000000 AS ho,
             CAST(SUM(CAST(FLOOR(CAST(value AS DECIMAL(12,2))) AS BIGINT))
               AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    pre AS (
      SELECT ho, x,
             CAST(ROW_NUMBER() OVER (ORDER BY ho ASC) AS BIGINT) AS i,
             CAST(SUM(x) OVER (ORDER BY ho ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
             CAST(SUM(x * x) OVER (ORDER BY ho ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS q
      FROM h
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS pn,
                   CAST(SUM(x * x) AS BIGINT) AS qn
            FROM h),
    costs AS (
      SELECT pre.i, pre.ho, tot.n, tot.pn, tot.qn,
             (CAST(q AS DOUBLE)
              - CAST(p AS DOUBLE) * CAST(p AS DOUBLE) / CAST(i AS DOUBLE))
             + (CAST(qn - q AS DOUBLE)
                - CAST(pn - p AS DOUBLE) * CAST(pn - p AS DOUBLE)
                  / CAST(n - i AS DOUBLE)) AS sse
      FROM pre, tot WHERE pre.i < tot.n
    )
    SELECT n AS n_hours, i AS split_idx, ho AS split_hour,
           CAST(qn AS DOUBLE)
             - CAST(pn AS DOUBLE) * CAST(pn AS DOUBLE) / CAST(n AS DOUBLE)
             AS sse_full,
           sse AS sse_split
    FROM costs ORDER BY sse ASC, i ASC LIMIT 1
    """,
    tags=("events", "time-series", "anomaly"),
    doc="Best single changepoint of hourly revenue by SSE reduction "
    "(binary segmentation step); exact integer prefix sums via the "
    "distributed running_sum, one broadcast total row, deterministic "
    "argmin tie-break.",
)
def events_changepoint_hourly(spark: SparkSession, sf_dir: str):

    ev = read_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.expr("unix_micros(ts) div 3600000000").alias("ho"),
            F.floor(F.col("value").cast(_DEC)).cast("bigint").alias("d"),
        )
        .groupBy("ho")
        .agg(F.sum("d").cast("bigint").alias("x"))
        .withColumn("x2", F.col("x") * F.col("x"))
        .withColumn("_one", F.lit(1))
        .transform(share)  # two consumers: prefix chain + totals
    )
    # ONE two-phase scan for all three cumulative columns (r14): the
    # chained form paid the range shuffle + sort + checkpoint + offsets
    # three times over the same (ho)-ordered rows.
    from fotmobdatapipeline_spark.operators.prefix import grouped_running_sums

    pre = grouped_running_sums(
        h, [], ["ho"], ["_one", "x", "x2"], ["i", "p", "q"]
    ).drop("_one")
    tot = h.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("pn"),
        F.sum("x2").cast("bigint").alias("qn"),
    )
    c = pre.crossJoin(F.broadcast(tot)).filter(F.col("i") < F.col("n"))
    pd_, id_ = F.col("p").cast("double"), F.col("i").cast("double")
    rp = (F.col("pn") - F.col("p")).cast("double")
    ri = (F.col("n") - F.col("i")).cast("double")
    sse = (F.col("q").cast("double") - pd_ * pd_ / id_) + (
        (F.col("qn") - F.col("q")).cast("double") - rp * rp / ri
    )
    best = c.select(
        "n",
        "pn",
        "qn",
        F.struct(
            sse.alias("sse"), F.col("i").alias("i"), F.col("ho").alias("ho")
        ).alias("cand"),
    ).agg(
        F.first("n").alias("n"),
        F.first("pn").alias("pn"),
        F.first("qn").alias("qn"),
        F.min("cand").alias("best"),
    )
    # Degenerate corpus (one hour / empty): the candidate frame is empty
    # and the ungrouped agg yields one all-NULL row where the oracle's
    # LIMIT 1 yields zero rows — drop it so both sides agree.
    best = best.filter(F.col("best").isNotNull())
    pnd, nd = F.col("pn").cast("double"), F.col("n").cast("double")
    return best.select(
        F.col("n").alias("n_hours"),
        F.col("best.i").alias("split_idx"),
        F.col("best.ho").alias("split_hour"),
        (F.col("qn").cast("double") - pnd * pnd / nd).alias("sse_full"),
        F.col("best.sse").alias("sse_split"),
    )


@register(
    "events_session_stats",
    oracle=f"""
    WITH numbered AS ({_SQL_SESSION_NUMBERED}
    ), sess AS (
      SELECT user_id, session_id,
             CAST(COUNT(*) AS BIGINT) AS n_ev,
             CAST(MAX(tus) - MIN(tus) AS BIGINT) AS dur_us,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
      FROM numbered GROUP BY user_id, session_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounce_sessions,
           CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS bounce_rate,
           CAST(SUM(purchased) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS purchase_session_rate,
           PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY dur_us) AS p50_dur_us,
           PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY dur_us) AS p90_dur_us
    FROM sess
    """,
    tags=("events", "session", "analytics", "quantiles"),
    doc="Corpus-level session distribution: bounce rate, purchase-session "
    "rate, and exact p50/p90 session duration (30-min-gap sessionization, "
    "the events_sessionize semantics; durations through the distributed "
    "rank-selection quantile path — no global sort at any session count).",
)
def events_session_stats(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.stats import exact_group_quantiles

    numbered = _session_numbered(read_table(spark, sf_dir, "events"))
    sess = (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.count("*").cast("bigint").alias("n_ev"),
            (F.max("tus") - F.min("tus")).cast("bigint").alias("dur_us"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("purchased"),
        )
        .transform(share)  # two consumers: totals + quantiles
    )
    t = sess.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum((F.col("n_ev") == 1).cast("long")).cast("bigint").alias("bounce_sessions"),
        F.sum("purchased").cast("bigint").alias("n_purchase_sessions"),
    )
    q = exact_group_quantiles(
        sess, "dur_us", [], ps=(0.5, 0.9), names=("p50_dur_us", "p90_dur_us")
    )
    return t.crossJoin(F.broadcast(q)).select(
        "n_sessions",
        "bounce_sessions",
        (
            F.col("bounce_sessions").cast("double") / F.col("n_sessions").cast("double")
        ).alias("bounce_rate"),
        (
            F.col("n_purchase_sessions").cast("double")
            / F.col("n_sessions").cast("double")
        ).alias("purchase_session_rate"),
        "p50_dur_us",
        "p90_dur_us",
    )


# --------------------------------------------------------------------------
# Holt-Winters additive seasonal forecast (triple exponential smoothing,
# alpha = beta = gamma = 0.5, period 24 hours) over the gap-filled
# hourly revenue series — the seasonal upgrade of events_holt_forecast.
# Dyadic smoothing constants make every step adds + exponent shifts in
# a FIXED order, so the fold is bit-identical across engines (the Holt
# doctrine; no division anywhere).  The 26-slot accumulator is
# [level, trend, s_1..s_24] with the seasonal ring kept ROTATED so the
# current hour's seasonal is always slot 3 — the update is then a
# concat (new head + ring shift + new seasonal), never a per-slot CASE.
# Rotation requires a DENSE hour series, so missing hours are
# gap-filled with 0 on both sides first.  Init is the all-zeros state
# folded over the whole series (deterministic, documented variant).
# Scale shape: the events scan collapses to <= hours-of-history rows,
# the dense fill is a broadcast range join, and the fold runs over one
# model-sized array — one group, no window, no UDF.
# --------------------------------------------------------------------------
def _hw_oracle() -> str:
    # ONE period constant: the oracle is generated from the SAME
    # HW_PERIOD the shared operator folds with — changing either alone
    # is impossible (r11 review).
    from fotmobdatapipeline_spark.operators.timeseries import HW_PERIOD

    m = HW_PERIOD
    # 1-indexed: a[1]=level, a[2]=trend, a[3]=seasonal(current hour),
    # a[4..m+2]=seasonal ring tail; element e=[x].
    lp = "(CAST(0.5 AS DOUBLE) * (e[1] - a[3]) + CAST(0.5 AS DOUBLE) * (a[1] + a[2]))"
    bp = f"(CAST(0.5 AS DOUBLE) * ({lp} - a[1]) + CAST(0.5 AS DOUBLE) * a[2])"
    sn = f"(CAST(0.5 AS DOUBLE) * (e[1] - {lp}) + CAST(0.5 AS DOUBLE) * a[3])"
    zeros = ", ".join(["CAST(0 AS DOUBLE)"] * (m + 2))
    return f"""
    WITH hh AS (
      SELECT epoch_us(ts) // 3600000000 AS ho,
             CAST(SUM({_SQL_CENTS}) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT MIN(ho) AS lo, MAX(ho) AS hi FROM hh),
    dense AS (
      SELECT lo + u AS ho
      FROM bounds, UNNEST(range(0, CAST(hi - lo + 1 AS BIGINT))) AS t(u)
    ),
    filled AS (
      SELECT dense.ho, CAST(COALESCE(hh.x, 0) AS DOUBLE) AS x
      FROM dense LEFT JOIN hh ON dense.ho = hh.ho
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
             list(x ORDER BY ho) AS xs
      FROM filled
    ),
    f AS (
      SELECT n_hours,
        list_reduce(
          list_prepend([{zeros}],
                       list_transform(xs, v -> [v])),
          (a, e) -> list_concat(list_concat([{lp}, {bp}], a[4:{m + 2}]), [{sn}])
        ) AS st
      FROM g
    )
    SELECT n_hours, st[1] AS hw_level, st[2] AS hw_trend,
           st[3] AS s_next, st[1] + st[2] + st[3] AS forecast_next_hour
    FROM f WHERE n_hours > 0
    """


@register(
    "events_holt_winters_hourly",
    oracle=_hw_oracle(),
    tags=("events", "time-series", "forecast"),
    doc="Holt-Winters additive seasonal forecast (period 24h, dyadic "
    "alpha=beta=gamma=0.5) over the gap-filled hourly revenue series; "
    "rotated-ring seasonal state, sequential fold, bit-exact.",
)
def events_holt_winters_hourly(spark: SparkSession, sf_dir: str):
    # Shared with the streaming readout (streaming/events.py::
    # read_holt_winters_report over the maintained hourly-cents table):
    # ONE definition of the gap-fill + fold, so stream == batch is a
    # code-level identity (the cusum doctrine).
    from fotmobdatapipeline_spark.operators.timeseries import (
        holt_winters_hourly_report,
        hourly_cents,
    )

    return holt_winters_hourly_report(
        hourly_cents(read_table(spark, sf_dir, "events"))
    )


# --------------------------------------------------------------------------
# Seasonal strength of the hourly revenue series: eta-squared of the
# hour-of-day grouping — SSB/(SSB+SSW) over the 24 hour-of-day buckets,
# i.e. "how much of hourly variance does the daily cycle explain"
# (the STL seasonal-strength diagnostic, variance-decomposition form).
# Exactness: per-bucket (n_h, S_h, Q_h) are exact integers from one
# combinable aggregate; the 24 per-bucket fraction terms S_h^2/n_h are
# summed by a SEQUENTIAL fold over the hod-sorted 24-element list (the
# switchback precedent — a plain agg over 24 doubles would be
# partition-order-dependent), so both engines add in identical order.
# Scale shape: events collapse to (hod, hour) first, then to 24 bucket
# rows — the fold is model-sized by construction.
# --------------------------------------------------------------------------
@register(
    "events_seasonal_strength",
    oracle=f"""
    WITH h AS (
      SELECT epoch_us(ts) // 3600000000 AS ho,
             CAST(SUM({_SQL_CENTS}) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT CAST(ho % 24 AS INT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(x) AS BIGINT) AS s_h,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q_h
      FROM h GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(n_h) AS BIGINT) AS n,
             CAST(SUM(s_h) AS HUGEINT) AS s,
             CAST(SUM(q_h) AS HUGEINT) AS q,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list(CAST(s_h AS DOUBLE) * CAST(s_h AS DOUBLE)
                      / CAST(n_h AS DOUBLE) ORDER BY hod)),
               (a, v) -> a + v) AS within_groups
      FROM b
    )
    SELECT n,
           CAST(CAST(q AS VARCHAR) AS DOUBLE) - within_groups AS ssw,
           within_groups - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             / CAST(n AS DOUBLE) AS ssb,
           (within_groups - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              / CAST(n AS DOUBLE))
           / (CAST(CAST(q AS VARCHAR) AS DOUBLE) - CAST(s AS DOUBLE)
              * CAST(s AS DOUBLE)
              / CAST(n AS DOUBLE)) AS seasonal_strength
    FROM t
    """,
    tags=("events", "time-series", "stats"),
    doc="Seasonal strength (hour-of-day eta-squared) of hourly revenue: "
    "SSB/SST over 24 buckets from exact integer sums; the 24 fraction "
    "terms summed by a sequential hod-ordered fold (switchback "
    "precedent) so both engines add in identical order.",
)
def events_seasonal_strength(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.expr("unix_micros(ts) div 3600000000").alias("ho"),
            _cents().alias("c"),
        )
        .groupBy("ho")
        .agg(F.sum("c").cast("bigint").alias("x"))
    )
    b = h.groupBy((F.col("ho") % 24).cast("int").alias("hod")).agg(
        F.count("*").cast("bigint").alias("n_h"),
        F.sum("x").cast("bigint").alias("s_h"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q_h"),
    )
    terms = F.transform(
        F.array_sort(F.collect_list(F.struct("hod", "n_h", "s_h"))),
        lambda e: e["s_h"].cast("double") * e["s_h"].cast("double")
        / e["n_h"].cast("double"),
    )
    t = b.agg(
        F.sum("n_h").cast("bigint").alias("n"),
        F.sum("s_h").cast("decimal(38,0)").alias("s"),
        F.sum("q_h").alias("q"),
        F.aggregate(terms, F.lit(0.0), lambda a, v: a + v).alias("within_groups"),
    )
    qd = F.col("q").cast("double")
    sd = F.col("s").cast("double")
    nd = F.col("n").cast("double")
    wg = F.col("within_groups")
    return t.select(
        "n",
        (qd - wg).alias("ssw"),
        (wg - sd * sd / nd).alias("ssb"),
        ((wg - sd * sd / nd) / (qd - sd * sd / nd)).alias("seasonal_strength"),
    )


# --------------------------------------------------------------------------
# Kendall's tau-b between per-user purchase spend and purchase count —
# the third member of the correlation family (Pearson on raw values,
# Spearman on midranks, Kendall on pair orderings; tau is the one
# robust to any monotone transform AND interpretable as a pair-level
# probability).  Everything up to the final division is an exact
# integer: concordant pairs come from operators/ordinal.py's
# distributed merge-sort dominance count (O(cells * log R) rows through
# ordinary shuffles — never an O(n^2) pair join and never a
# single-partition sort), discordant pairs from the inclusion-exclusion
# identity n0 = C + D + n1 + n2 - n_xy over the tie marginals (each a
# plain group-by aggregate).  tau-b = (C - D) / sqrt((n0-n1)(n0-n2)) as
# ONE fixed IEEE tree (int64->double casts are correctly rounded in
# both engines; the product is done in double because (n0-n1)(n0-n2)
# overflows int64 at ~3e9 pairs).  Oracle: C and D are
# algorithm-independent integers, so DuckDB simply pair-joins the
# per-user table (O(users^2) at oracle scale only).  Int64-safe to
# ~4.3e9 users (n0 < 2^63).
# --------------------------------------------------------------------------
@register(
    "events_kendall_tau",
    oracle=f"""
    WITH pu AS (
      SELECT user_id, CAST(SUM({_SQL_CENTS}) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    p AS (
      SELECT a.s AS sa, a.c AS ca, b.s AS sb, b.c AS cb
      FROM pu a JOIN pu b ON a.user_id < b.user_id
    ),
    agg AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM pu) AS n,
        CAST(COALESCE(SUM(CASE WHEN (sa < sb AND ca < cb)
                               OR (sa > sb AND ca > cb)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_pairs,
        CAST(COALESCE(SUM(CASE WHEN (sa < sb AND ca > cb)
                               OR (sa > sb AND ca < cb)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS d_pairs,
        CAST(COALESCE(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS ties_x,
        CAST(COALESCE(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS ties_y
      FROM p
    )
    SELECT n, c_pairs, d_pairs, ties_x, ties_y,
           CASE WHEN n * (n - 1) // 2 = ties_x OR n * (n - 1) // 2 = ties_y
                THEN NULL
                ELSE CAST(c_pairs - d_pairs AS DOUBLE)
                     / SQRT(CAST(n * (n - 1) // 2 - ties_x AS DOUBLE)
                            * CAST(n * (n - 1) // 2 - ties_y AS DOUBLE))
           END AS tau_b
    FROM agg
    """,
    tags=("events", "stats", "correlation"),
    doc="Exact Kendall tau-b (spend vs purchase count per user) via the "
    "distributed merge-sort dominance count; integer C/D/tie counts, one "
    "fixed float tree.",
)
def events_kendall_tau(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.ordinal import dominated_pair_weight
    from fotmobdatapipeline_spark.operators.prefix import running_sum

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    pu = ev.groupBy("user_id").agg(
        F.sum(_cents()).cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("c"),
    )
    cells = (
        pu.groupBy("s", "c")
        .agg(F.count("*").cast("bigint").alias("m"))
        .transform(truncate)  # consumers: marginals x2, n, rank join
    )
    # Tie marginals: w*(w-1) is always even, so integer halving is exact.
    ws = cells.groupBy("s").agg(F.sum("m").cast("bigint").alias("w"))
    ws = truncate(ws)  # consumers: n1, dense rank, R
    n1 = ws.agg(
        F.coalesce(F.sum(F.expr("w * (w - 1) div 2")), F.lit(0))
        .cast("bigint")
        .alias("ties_x")
    )
    n2 = (
        cells.groupBy("c")
        .agg(F.sum("m").cast("bigint").alias("w"))
        .agg(
            F.coalesce(F.sum(F.expr("w * (w - 1) div 2")), F.lit(0))
            .cast("bigint")
            .alias("ties_y")
        )
    )
    txy = cells.agg(
        F.coalesce(F.sum(F.expr("m * (m - 1) div 2")), F.lit(0))
        .cast("bigint")
        .alias("t_xy")
    )
    nrow = cells.agg(F.coalesce(F.sum("m"), F.lit(0)).cast("bigint").alias("n"))
    # Dense zero-based rank of the distinct spend values (two-phase
    # distributed prefix count); R is the one driver-side scalar the
    # dyadic level count needs — a count, not data.
    n_ranks = ws.count()
    rk = running_sum(
        ws.select("s", F.lit(1).alias("one")), ["s"], "one", out_col="r"
    ).select("s", (F.col("r") - 1).alias("rk0"))
    ranked = cells.join(rk, "s").select("rk0", "c", "m")
    conc = dominated_pair_weight(ranked, "rk0", "c", "m", n_ranks, out_col="c_pairs")
    j = (
        nrow.crossJoin(F.broadcast(conc))
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(txy))
    )
    n0 = F.expr("n * (n - 1) div 2")
    d_pairs = (n0 - F.col("ties_x") - F.col("ties_y") + F.col("t_xy") - F.col("c_pairs")).cast("bigint")
    num = (F.col("c_pairs") - F.col("d_pairs")).cast("double")
    den = F.sqrt(
        (n0 - F.col("ties_x")).cast("double") * (n0 - F.col("ties_y")).cast("double")
    )
    return j.select(
        "n",
        "c_pairs",
        d_pairs.alias("d_pairs"),
        "ties_x",
        "ties_y",
    ).select(
        "n",
        "c_pairs",
        "d_pairs",
        "ties_x",
        "ties_y",
        F.when(
            (n0 == F.col("ties_x")) | (n0 == F.col("ties_y")),
            F.lit(None).cast("double"),
        )
        .otherwise(num / den)
        .alias("tau_b"),
    )


# --------------------------------------------------------------------------
# Cross-correlation (CCF) between the hourly purchase-revenue series and
# the hourly click-count series at lags -6..+6 — the lead/lag companion
# to events_acf_hourly (do clicks lead purchases, and by how many
# hours?).  Same determinism doctrine as the ACF: both series are
# gap-filled to the common dense hour range (missing hour = 0 — a true
# zero, not missing data), the fractional means are eliminated by the
# N-scaling identity (N*x_t - Sx), every deviation product is exact
# DECIMAL(38,0)/HUGEINT, and the only floats are the final fixed tree
# num / (sqrt(dx) * sqrt(dy)) over VARCHAR-routed casts (the catalog's
# >2^64 cast rule).  Scale shape: one events scan collapses to the
# hourly table (map-side combinable); the dense range, the 13-row lag
# frame, and the stats row are all time-scale or literal — every join
# below the collapse is over <= hours rows.
# --------------------------------------------------------------------------
_CCF_MAX_LAG = 6


@register(
    "events_ccf_hourly",
    oracle=f"""
    WITH hx AS (
      SELECT epoch_us(ts) // 3600000000 AS ho,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN {_SQL_CENTS} ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT MIN(ho) AS lo, MAX(ho) AS hi FROM hx),
    dense AS (
      SELECT CAST(UNNEST(range(lo, hi + 1)) AS BIGINT) AS ho FROM bounds
    ),
    h AS (
      SELECT d.ho, COALESCE(hx.x, 0) AS x, COALESCE(hx.y, 0) AS y
      FROM dense d LEFT JOIN hx ON hx.ho = d.ho
    ),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS sx,
                  CAST(SUM(y) AS BIGINT) AS sy FROM h),
    den AS (
      SELECT SUM(CAST(n * x - sx AS HUGEINT) * (n * x - sx)) AS dx,
             SUM(CAST(n * y - sy AS HUGEINT) * (n * y - sy)) AS dy
      FROM h, st
    ),
    lags AS (SELECT CAST(UNNEST(range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG + 1}))
                    AS BIGINT) AS lag),
    num AS (
      SELECT lags.lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(CAST(st.n * a.x - st.sx AS HUGEINT)
                 * (st.n * b.y - st.sy)) AS nu
      FROM lags, st, h a JOIN h b ON b.ho = a.ho + lags.lag
      GROUP BY lags.lag
    )
    SELECT num.lag, num.n_pairs,
           CAST(CAST(nu AS VARCHAR) AS DOUBLE)
             / (SQRT(CAST(CAST(dx AS VARCHAR) AS DOUBLE))
                * SQRT(CAST(CAST(dy AS VARCHAR) AS DOUBLE))) AS ccf
    FROM num, den
    """,
    tags=("events", "time-series", "stats"),
    doc="Exact cross-correlation of hourly purchase revenue vs click "
    "counts at lags -6..+6; gap-filled series, N-scaled integer "
    "deviations, one fixed float tree.",
)
def events_ccf_hourly(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    hx = (
        ev.select(
            F.expr("unix_micros(ts) div 3600000000").alias("ho"),
            F.when(F.col("event_type") == "purchase", _cents())
            .otherwise(F.lit(0))
            .alias("xc"),
            F.when(F.col("event_type") == "click", F.lit(1))
            .otherwise(F.lit(0))
            .alias("yc"),
        )
        .groupBy("ho")
        .agg(
            F.sum("xc").cast("bigint").alias("x"),
            F.sum("yc").cast("bigint").alias("y"),
        )
    )
    bounds = hx.agg(F.min("ho").alias("lo"), F.max("ho").alias("hi"))
    dense = bounds.select(F.explode(F.sequence("lo", "hi")).alias("ho"))
    h = (
        dense.join(hx, "ho", "left")
        .select(
            "ho",
            F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
            F.coalesce("y", F.lit(0)).cast("bigint").alias("y"),
        )
        .transform(share)  # three consumers: stats, den, pairs
    )
    st = h.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    devx = F.col("n") * F.col("x") - F.col("sx")
    devy = F.col("n") * F.col("y") - F.col("sy")
    den = h.crossJoin(F.broadcast(st)).agg(
        F.sum(devx.cast("decimal(19,0)") * devx).alias("dx"),
        F.sum(devy.cast("decimal(19,0)") * devy).alias("dy"),
    )
    lags = spark.range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = h.select(F.col("ho").alias("ho_a"), F.col("x").alias("x_a"))
    b = h.select(F.col("ho").alias("ho_b"), F.col("y").alias("y_b"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("ho_b") == F.col("ho_a") + F.col("lag"))
        .crossJoin(F.broadcast(st))
    )
    dev_a = F.col("n") * F.col("x_a") - F.col("sx")
    dev_b = F.col("n") * F.col("y_b") - F.col("sy")
    num = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(dev_a.cast("decimal(19,0)") * dev_b).alias("nu"),
    )
    return num.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        (
            F.col("nu").cast("double")
            / (F.sqrt(F.col("dx").cast("double")) * F.sqrt(F.col("dy").cast("double")))
        ).alias("ccf"),
    )


# --------------------------------------------------------------------------
# Ratio-metric A/B test with DELTA-METHOD variance — the estimator real
# experimentation platforms need when the metric is a ratio of two
# user-level sums (here: purchase revenue per event) and the
# randomization unit is the user, so a naive per-event variance is
# wrong (events within a user are correlated).  With R = Sy/Sk the
# per-user residuals d_u = y_u - R*k_u sum to zero EXACTLY, so the
# delta-method variance collapses to n*(Syy - 2R*Syk + R^2*Skk)
# / ((n-1)*Sk^2) — every S-term an exact integer/DECIMAL(38,0) from one
# map-side-combinable pass, and the variance/z a single fixed IEEE tree
# both engines evaluate identically (sums > 2^64 routed through VARCHAR
# on the DuckDB side per the catalog cast rule).  Scale: one events
# scan -> user-level aggregate -> 1-row variant aggregate; nothing
# downstream of the user collapse is data-scale.
# --------------------------------------------------------------------------
@register(
    "events_ab_ratio_delta",
    oracle=f"""
    WITH pu AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN {_SQL_CENTS} ELSE 0 END) AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT y, k,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM pu
    ),
    t AS (
      SELECT {", ".join(
        f'''CAST(SUM(CASE WHEN variant = {a} THEN 1 ELSE 0 END) AS BIGINT) AS n_{s},
             CAST(SUM(CASE WHEN variant = {a} THEN y ELSE 0 END) AS BIGINT) AS sy_{s},
             CAST(SUM(CASE WHEN variant = {a} THEN k ELSE 0 END) AS BIGINT) AS sk_{s},
             SUM(CASE WHEN variant = {a} THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS syy_{s},
             SUM(CASE WHEN variant = {a} THEN CAST(y AS HUGEINT) * k ELSE 0 END) AS syk_{s},
             SUM(CASE WHEN variant = {a} THEN CAST(k AS HUGEINT) * k ELSE 0 END) AS skk_{s}'''
        for a, s in ((0, "a"), (1, "b")))}
      FROM v
    ),
    r AS (
      SELECT n_a, n_b,
             {", ".join(
        f'''CAST(sy_{s} AS DOUBLE) / CAST(sk_{s} AS DOUBLE) AS ratio_{s},
             CAST(n_{s} AS DOUBLE)
               * (CAST(CAST(syy_{s} AS VARCHAR) AS DOUBLE)
                  - CAST(2 AS DOUBLE) * (CAST(sy_{s} AS DOUBLE) / CAST(sk_{s} AS DOUBLE))
                    * CAST(CAST(syk_{s} AS VARCHAR) AS DOUBLE)
                  + (CAST(sy_{s} AS DOUBLE) / CAST(sk_{s} AS DOUBLE))
                    * (CAST(sy_{s} AS DOUBLE) / CAST(sk_{s} AS DOUBLE))
                    * CAST(CAST(skk_{s} AS VARCHAR) AS DOUBLE))
               / (CAST(n_{s} - 1 AS DOUBLE)
                  * CAST(sk_{s} AS DOUBLE) * CAST(sk_{s} AS DOUBLE)) AS var_{s}'''
        for s in ("a", "b"))}
      FROM t
      WHERE n_a >= 2 AND n_b >= 2 AND sk_a > 0 AND sk_b > 0
    )
    SELECT n_a, n_b, ratio_a, ratio_b, var_a, var_b,
           (ratio_b - ratio_a) / SQRT(var_a + var_b) AS z_stat,
           abs((ratio_b - ratio_a) / SQRT(var_a + var_b))
             > CAST(1.96 AS DOUBLE) AS significant
    FROM r
    """,
    tags=("events", "stats", "abtest"),
    doc="Delta-method ratio-metric A/B test (revenue per event, "
    "user-randomized): exact moment sums, fixed float tree.",
)
def events_ab_ratio_delta(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", _cents()).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("y"),
        F.count("*").cast("bigint").alias("k"),
    )
    v = pu.select("y", "k", _ab_variant().alias("variant"))
    d38 = "decimal(38,0)"
    aggs = []
    for a, s in ((0, "a"), (1, "b")):
        hit = (F.col("variant") == a).cast("long")
        aggs += [
            F.sum(hit).cast("bigint").alias(f"n_{s}"),
            F.sum(F.col("y") * hit).cast("bigint").alias(f"sy_{s}"),
            F.sum(F.col("k") * hit).cast("bigint").alias(f"sk_{s}"),
            F.sum(F.col("y").cast(d38) * F.col("y") * hit).alias(f"syy_{s}"),
            F.sum(F.col("y").cast(d38) * F.col("k") * hit).alias(f"syk_{s}"),
            F.sum(F.col("k").cast(d38) * F.col("k") * hit).alias(f"skk_{s}"),
        ]
    t = v.agg(*aggs).filter(
        (F.col("n_a") >= 2)
        & (F.col("n_b") >= 2)
        & (F.col("sk_a") > 0)
        & (F.col("sk_b") > 0)
    )
    cols = ["n_a", "n_b"]
    exprs = []
    for s in ("a", "b"):
        ratio = F.col(f"sy_{s}").cast("double") / F.col(f"sk_{s}").cast("double")
        var = (
            F.col(f"n_{s}").cast("double")
            * (
                F.col(f"syy_{s}").cast("double")
                - F.lit(2.0) * ratio * F.col(f"syk_{s}").cast("double")
                + ratio * ratio * F.col(f"skk_{s}").cast("double")
            )
            / (
                (F.col(f"n_{s}") - 1).cast("double")
                * F.col(f"sk_{s}").cast("double")
                * F.col(f"sk_{s}").cast("double")
            )
        )
        exprs += [ratio.alias(f"ratio_{s}"), var.alias(f"var_{s}")]
    r = t.select(*cols, *exprs)
    z = (F.col("ratio_b") - F.col("ratio_a")) / F.sqrt(
        F.col("var_a") + F.col("var_b")
    )
    return r.select(
        "n_a",
        "n_b",
        "ratio_a",
        "ratio_b",
        "var_a",
        "var_b",
        z.alias("z_stat"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


# --------------------------------------------------------------------------
# Mann-Kendall trend test over the hourly revenue series — the
# nonparametric "is this metric drifting?" monitor (no distributional
# assumption, robust to outliers; the hypothesis-test companion to
# events_theilsen_trend's slope estimate).  S = #increasing-in-time
# pairs - #decreasing ones: BOTH counts come from operators/ordinal.py's
# distributed dominance kernel (time order is already a dense rank; the
# decreasing count is dominance on the negated value), so S is exact at
# any series length without the O(h^2) pair join the textbook formula
# implies.  Var(S) keeps the /18 rational: var_num = n(n-1)(2n+5) -
# SUM t(t-1)(2t+5) over value-tie runs stays integer, and z =
# (S -/+ 1) / sqrt(var_num / 18) is one fixed IEEE tree.  Oracle:
# O(hours^2) pair join — hours-scale at oracle SF only.
# --------------------------------------------------------------------------
@register(
    "events_mann_kendall",
    oracle=f"""
    WITH h AS (
      SELECT epoch_us(ts) // 3600000000 AS ho,
             CAST(SUM({_SQL_CENTS}) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM h),
    p AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN b.x > a.x THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS c_inc,
             CAST(COALESCE(SUM(CASE WHEN b.x < a.x THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS c_dec
      FROM h a JOIN h b ON a.ho < b.ho
    ),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tt
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM h GROUP BY x)
    ),
    m AS (
      SELECT st.n, p.c_inc - p.c_dec AS s_stat,
             st.n * (st.n - 1) * (2 * st.n + 5) - ties.tt AS var_num
      FROM st, p, ties
    )
    SELECT n, s_stat, var_num,
           CASE WHEN var_num <= 0 THEN NULL
                WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                     / SQRT(CAST(var_num AS DOUBLE) / CAST(18 AS DOUBLE))
                WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                     / SQRT(CAST(var_num AS DOUBLE) / CAST(18 AS DOUBLE))
                ELSE CAST(0 AS DOUBLE) END AS z_stat
    FROM m
    """,
    tags=("events", "time-series", "stats"),
    doc="Mann-Kendall trend test on hourly revenue: exact S via ONE "
    "dominance-kernel pass (c_dec from the integer identity "
    "n(n-1)/2 - tie_pairs - c_inc), rational variance, "
    "continuity-corrected z.",
)
def events_mann_kendall(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.ordinal import dominated_pair_weight
    from fotmobdatapipeline_spark.operators.prefix import running_sum

    ev = read_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.expr("unix_micros(ts) div 3600000000").alias("ho"),
            _cents().alias("c"),
        )
        .groupBy("ho")
        .agg(F.sum("c").cast("bigint").alias("x"))
        .transform(truncate)  # consumers: rank, stats pass, 1x kernel
    )
    n_ranks = h.count()
    rk = running_sum(
        h.select("ho", F.lit(1).alias("one")), ["ho"], "one", out_col="r"
    ).select("ho", (F.col("r") - 1).alias("rk0"))
    cells = h.join(rk, "ho").select(
        "rk0", F.col("x").alias("y"), F.lit(1).cast("bigint").alias("m")
    )
    c_inc = dominated_pair_weight(cells, "rk0", "y", "m", n_ranks, out_col="c_inc")
    # ONE kernel pass (r14): hours are rank-distinct, so every ordered
    # pair is increasing, decreasing, or an x-tie — c_dec follows from
    # the exact integer identity c_dec = n(n-1)/2 - tie_pairs - c_inc
    # (the same identity events_kendall_tau already rides), replacing
    # the second full dominance kernel over negated y.  n, the variance
    # tie term, and the tie-pair count all come from a single grouped
    # pass over h (t*(t-1) is even, so the div 2 is exact).
    stats = (
        h.groupBy("x")
        .agg(F.count("*").cast("bigint").alias("t"))
        .agg(
            F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n"),
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tt"),
            F.coalesce(
                F.sum(F.expr("t * (t - 1) div 2")), F.lit(0)
            )
            .cast("bigint")
            .alias("tp"),
        )
    )
    c_dec = (
        F.expr("n * (n - 1) div 2") - F.col("tp") - F.col("c_inc")
    ).cast("bigint")
    m = (
        stats.crossJoin(F.broadcast(c_inc))
        .select(
            "n",
            (F.col("c_inc") - c_dec).cast("bigint").alias("s_stat"),
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tt")
            )
            .cast("bigint")
            .alias("var_num"),
        )
    )
    den = F.sqrt(F.col("var_num").cast("double") / F.lit(18.0))
    return m.select(
        "n",
        "s_stat",
        "var_num",
        F.when(F.col("var_num") <= 0, F.lit(None).cast("double"))
        .when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double") / den)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double") / den)
        .otherwise(F.lit(0.0))
        .alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Uplift-by-decile with a Qini readout — the eval an uplift/targeting
# model ships with: users ranked by a targeting score (here: pre-period
# view+click activity), cut into NTILE(10) deciles via the shared
# exact_ntile (distributed ranks, integer bucket arithmetic — never a
# partition-less window over users), then per-decile treatment/control
# conversion and the CUMULATIVE Qini numerator X_t*N_c - X_c*N_t
# carried as DECIMAL(38,0)/HUGEINT (it crosses int64 near ~3e9 users).
# The only window is over the 10-row decile frame — bounded by
# construction (the funnel/BH doctrine).  Floats: per-decile uplift and
# qini are each one fixed tree over exact integers.
# --------------------------------------------------------------------------
@register(
    "events_uplift_qini",
    oracle=f"""
    WITH pu AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type IN ('view', 'click')
                      THEN 1 ELSE 0 END) AS BIGINT) AS score,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                 THEN 1 ELSE 0 END) AS conv,
             ({_sql_hex32_ab("substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)")})
               % 2 AS variant
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT variant, conv,
             NTILE(10) OVER (ORDER BY score DESC, user_id ASC) AS decile
      FROM pu
    ),
    g AS (
      SELECT decile,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_t,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
             CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_c
      FROM d GROUP BY decile
    ),
    c AS (
      SELECT decile, n_t, x_t, n_c, x_c,
             SUM(CAST(n_t AS HUGEINT)) OVER w AS cnt,
             SUM(CAST(x_t AS HUGEINT)) OVER w AS cxt,
             SUM(CAST(n_c AS HUGEINT)) OVER w AS cnc,
             SUM(CAST(x_c AS HUGEINT)) OVER w AS cxc
      FROM g
      WINDOW w AS (ORDER BY decile ASC ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT decile, n_t, x_t, n_c, x_c,
           CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
                ELSE CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                     - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE) END AS uplift,
           CASE WHEN cnc = 0 THEN NULL
                ELSE CAST(CAST(cxt * cnc - cxc * cnt AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(cnc AS VARCHAR) AS DOUBLE) END AS qini
    FROM c
    """,
    tags=("events", "stats", "abtest", "uplift"),
    doc="Uplift by targeting-score decile + cumulative Qini; exact_ntile "
    "deciles, exact integer cells, fixed float trees.",
)
def events_uplift_qini(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.stats import exact_ntile

    ev = read_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.sum(
            F.col("event_type").isin("view", "click").cast("long")
        )
        .cast("bigint")
        .alias("score"),
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("value") > 150)).cast(
                "int"
            )
        ).alias("conv"),
    )
    pu = pu.select("*", _ab_variant().alias("variant"))
    d = exact_ntile(
        pu.withColumn("_neg_score", -F.col("score")),
        ["_neg_score", "user_id"],
        10,
        out_col="decile",
    )
    g = d.groupBy("decile").agg(
        F.sum((F.col("variant") == 1).cast("long")).cast("bigint").alias("n_t"),
        F.sum(F.col("conv") * (F.col("variant") == 1).cast("long"))
        .cast("bigint")
        .alias("x_t"),
        F.sum((F.col("variant") == 0).cast("long")).cast("bigint").alias("n_c"),
        F.sum(F.col("conv") * (F.col("variant") == 0).cast("long"))
        .cast("bigint")
        .alias("x_c"),
    )
    # 10-row frame: bounded by construction (decile count is a literal).
    w = Window.orderBy(F.asc("decile")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d38 = "decimal(38,0)"
    c = g.select(
        "decile",
        "n_t",
        "x_t",
        "n_c",
        "x_c",
        F.sum(F.col("n_t").cast(d38)).over(w).alias("cnt"),
        F.sum(F.col("x_t").cast(d38)).over(w).alias("cxt"),
        F.sum(F.col("n_c").cast(d38)).over(w).alias("cnc"),
        F.sum(F.col("x_c").cast(d38)).over(w).alias("cxc"),
    )
    uplift = F.when(
        (F.col("n_t") == 0) | (F.col("n_c") == 0), F.lit(None).cast("double")
    ).otherwise(
        F.col("x_t").cast("double") / F.col("n_t").cast("double")
        - F.col("x_c").cast("double") / F.col("n_c").cast("double")
    )
    qini = F.when(F.col("cnc") == 0, F.lit(None).cast("double")).otherwise(
        (F.col("cxt") * F.col("cnc") - F.col("cxc") * F.col("cnt"))
        .cast(d38)
        .cast("double")
        / F.col("cnc").cast("double")
    )
    return c.select(
        "decile",
        "n_t",
        "x_t",
        "n_c",
        "x_c",
        uplift.alias("uplift"),
        qini.alias("qini"),
    )


# --------------------------------------------------------------------------
# Position-based (U-shaped) attribution — completes the attribution
# family (last-touch = one window; Markov = removal effects; this =
# the 40/20/40 industry standard): each user's first purchase credits
# its prior touch path 40% to the first touch, 40% to the last, 20%
# split over the middle (k=1 -> 100%, k=2 -> 50/50, no touches ->
# 'direct').  Exactness: positions collapse to INTEGER (channel, k,
# first/last/middle) cells, and each channel's credit is a SEQUENTIAL
# k-ASCENDING FOLD of fixed-expression terms (the switchback/seasonal
# fold doctrine) — the only division is 0.2/(k-2) inside a term, so
# both engines add the same doubles in the same order.  Scale shape:
# per-user windows (user-sized groups — the last_touch precedent), one
# (channel, k) aggregate, folds over k-cardinality arrays.
# --------------------------------------------------------------------------
@register(
    "events_attribution_position",
    oracle="""
    WITH fp AS (
      SELECT user_id, tus, event_id FROM (
        SELECT user_id, epoch_us(ts) AS tus, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS rn
        FROM events WHERE event_type = 'purchase')
      WHERE rn = 1
    ),
    t AS (
      SELECT e.user_id, e.event_type AS channel,
             ROW_NUMBER() OVER (PARTITION BY e.user_id
                                ORDER BY epoch_us(e.ts), e.event_id) AS rn,
             COUNT(*) OVER (PARTITION BY e.user_id) AS k
      FROM events e JOIN fp ON fp.user_id = e.user_id
      WHERE e.event_type <> 'purchase'
        AND (epoch_us(e.ts) < fp.tus
             OR (epoch_us(e.ts) = fp.tus AND e.event_id < fp.event_id))
    ),
    g AS (
      SELECT channel, k,
             CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f,
             CAST(SUM(CASE WHEN rn = k AND k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS l,
             CAST(SUM(CASE WHEN rn > 1 AND rn < k THEN 1 ELSE 0 END) AS BIGINT) AS m
      FROM t GROUP BY 1, 2
      UNION ALL
      SELECT 'direct' AS channel, CAST(0 AS BIGINT) AS k,
             CAST(COUNT(*) AS BIGINT) AS f, CAST(0 AS BIGINT) AS l,
             CAST(0 AS BIGINT) AS m
      FROM fp WHERE user_id NOT IN (SELECT DISTINCT user_id FROM t)
      HAVING COUNT(*) > 0
    ),
    terms AS (
      SELECT channel, k, f, l, m,
             CASE WHEN k <= 1 THEN CAST(f AS DOUBLE)
                  WHEN k = 2 THEN CAST(0.5 AS DOUBLE) * CAST(f + l AS DOUBLE)
                  ELSE CAST(0.4 AS DOUBLE) * CAST(f + l AS DOUBLE)
                       + CAST(0.2 AS DOUBLE) * CAST(m AS DOUBLE)
                         / CAST(k - 2 AS DOUBLE) END AS term
      FROM g
    )
    SELECT channel,
           CAST(SUM(f) AS BIGINT) AS n_first,
           CAST(SUM(l) AS BIGINT) AS n_last,
           CAST(SUM(m) AS BIGINT) AS n_mid,
           list_reduce(list(term ORDER BY k ASC), (a, b) -> a + b) AS credit
    FROM terms GROUP BY channel
    """,
    tags=("events", "analytics", "attribution"),
    doc="U-shaped 40/20/40 position attribution; integer position cells, "
    "sequential k-ordered credit fold.",
)
def events_attribution_position(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").withColumn("tus", F.unix_micros("ts"))
    wp = Window.partitionBy("user_id").orderBy(F.asc("tus"), F.asc("event_id"))
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("tus").alias("ptus"), F.col("event_id").alias("peid"))
    )
    fp = share(fp)  # two consumers: touches join + direct
    touches = (
        ev.filter(F.col("event_type") != "purchase")
        .join(fp, "user_id")
        .filter(
            (F.col("tus") < F.col("ptus"))
            | ((F.col("tus") == F.col("ptus")) & (F.col("event_id") < F.col("peid")))
        )
        .select("user_id", F.col("event_type").alias("channel"), "tus", "event_id")
    )
    wk = Window.partitionBy("user_id")
    t = touches.withColumn("rn", F.row_number().over(wp)).withColumn(
        "k", F.count("*").over(wk)
    )
    t = share(t)  # two consumers: cells + direct anti
    g = t.groupBy("channel", F.col("k").cast("bigint").alias("k")).agg(
        F.sum((F.col("rn") == 1).cast("long")).cast("bigint").alias("f"),
        F.sum(((F.col("rn") == F.col("k")) & (F.col("k") > 1)).cast("long"))
        .cast("bigint")
        .alias("l"),
        F.sum(((F.col("rn") > 1) & (F.col("rn") < F.col("k"))).cast("long"))
        .cast("bigint")
        .alias("m"),
    )
    direct = (
        fp.join(t.select("user_id").distinct(), "user_id", "left_anti")
        .agg(F.count("*").cast("bigint").alias("f"))
        .filter(F.col("f") > 0)
        .select(
            F.lit("direct").alias("channel"),
            F.lit(0).cast("bigint").alias("k"),
            "f",
            F.lit(0).cast("bigint").alias("l"),
            F.lit(0).cast("bigint").alias("m"),
        )
    )
    g = g.unionByName(direct)
    term = (
        F.when(F.col("k") <= 1, F.col("f").cast("double"))
        .when(F.col("k") == 2, F.lit(0.5) * (F.col("f") + F.col("l")).cast("double"))
        .otherwise(
            F.lit(0.4) * (F.col("f") + F.col("l")).cast("double")
            + F.lit(0.2)
            * F.col("m").cast("double")
            / (F.col("k") - 2).cast("double")
        )
    )
    terms = g.select("channel", "k", "f", "l", "m", term.alias("term"))
    folded = terms.groupBy("channel").agg(
        F.sum("f").cast("bigint").alias("n_first"),
        F.sum("l").cast("bigint").alias("n_last"),
        F.sum("m").cast("bigint").alias("n_mid"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("k", "term"))),
                lambda s: s["term"],
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("credit"),
    )
    return folded


# --------------------------------------------------------------------------
# Sweep-line session analytics: peak concurrent sessions, when the peak
# starts, and the total wall-clock covered by >= 1 active session —
# the capacity-planning trio (how many sessions at once, when, and what
# share of time the system is busy).  The classic algorithm is a
# sequential sweep over +1/-1 boundary deltas; here the sweep is fully
# distributed: boundary deltas collapse by timestamp, rank and running
# concurrency are two chained two-phase prefix scans, the segment
# length is a rank -> rank+1 HASH JOIN against the same frame (the scale-safe
# spelling of a global LEAD — never a partition-less window), and the
# final maxima/sums are combinable aggregates.  Sessions are the shared
# 30-min-gap islands (_session_numbered), intervals closed on both ends
# (+1 at start, -1 at end + 1 micro).  All integers; zero floats
# anywhere.  Oracle: the same sweep as ordinary windows — fine at
# oracle scale.
# --------------------------------------------------------------------------
@register(
    "events_session_sweepline",
    oracle=f"""
    WITH numbered AS ({_SQL_SESSION_NUMBERED}
    ),
    sess AS (
      SELECT user_id, session_id, MIN(tus) AS s, MAX(tus) + 1 AS e
      FROM numbered GROUP BY user_id, session_id
    ),
    deltas AS (
      SELECT t, CAST(SUM(d) AS BIGINT) AS net FROM (
        SELECT s AS t, 1 AS d FROM sess
        UNION ALL SELECT e AS t, -1 AS d FROM sess
      ) GROUP BY t
    ),
    run AS (
      SELECT t, net,
             SUM(net) OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS active,
             LEAD(t) OVER (ORDER BY t ASC) AS next_t
      FROM deltas
    ),
    m AS (
      SELECT CAST((SELECT COUNT(*) FROM sess) AS BIGINT) AS n_sessions,
             CAST(MAX(active) AS BIGINT) AS peak_concurrency,
             CAST(MIN(CASE WHEN active = (SELECT MAX(active) FROM run)
                      THEN t END) AS BIGINT) AS peak_start_us,
             CAST(COALESCE(SUM(CASE WHEN active >= 1
                                    THEN next_t - t END), 0) AS BIGINT)
               AS covered_us
      FROM run
    )
    SELECT * FROM m
    """,
    tags=("events", "sessions", "sweep-line", "scale"),
    doc="Peak concurrent sessions + busy wall-clock via a distributed "
    "sweep-line: prefix-scan concurrency, rank-join global LEAD, all "
    "integer.",
)
def events_session_sweepline(spark: SparkSession, sf_dir: str):

    ev = read_table(spark, sf_dir, "events")
    sess = (
        _session_numbered(ev)
        .groupBy("user_id", "session_id")
        .agg(F.min("tus").alias("s"), (F.max("tus") + 1).alias("e"))
    )
    sess = share(sess)  # two consumers: deltas + count
    deltas = (
        sess.select(F.col("s").alias("t"), F.lit(1).alias("d"))
        .unionByName(sess.select(F.col("e").alias("t"), F.lit(-1).alias("d")))
        .groupBy("t")
        .agg(F.sum("d").cast("bigint").alias("net"))
    )
    # One two-phase prefix scan over the boundary table yields BOTH the
    # rank and the running concurrency; the global LEAD is a rank ->
    # rank+1 hash self-join — never a partition-less window at any
    # boundary count.
    # r14: rank and running concurrency in ONE two-phase scan (the
    # chained form paid the range shuffle + offsets twice over the same
    # (t)-ordered boundary rows).
    from fotmobdatapipeline_spark.operators.prefix import grouped_running_sums

    run = grouped_running_sums(
        deltas.withColumn("one", F.lit(1)), [], ["t"], ["one", "net"],
        ["rnk", "active"],
    ).transform(share)  # three consumers: peak, argmin, covered join
    nxt = run.select((F.col("rnk") - 1).alias("rnk"), F.col("t").alias("next_t"))
    seg = run.join(nxt, "rnk", "left")
    n_sessions = sess.agg(F.count("*").cast("bigint").alias("n_sessions"))
    peak = run.agg(F.max("active").cast("bigint").alias("peak_concurrency"))
    stats = (
        seg.crossJoin(F.broadcast(peak))
        .agg(
            F.min(
                F.when(F.col("active") == F.col("peak_concurrency"), F.col("t"))
            )
            .cast("bigint")
            .alias("peak_start_us"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("active") >= 1, F.col("next_t") - F.col("t")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("covered_us"),
        )
    )
    return (
        n_sessions.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(stats))
        .select("n_sessions", "peak_concurrency", "peak_start_us", "covered_us")
    )


# --------------------------------------------------------------------------
# Top conversion paths — the descriptive companion to the attribution
# family (last-touch / position / Markov assign credit; this one shows
# the raw journeys): each converting user's ordered touch sequence
# before the first purchase, truncated to the first 5 touches, counted
# and ranked.  Pure structure — per-user windows (user-sized groups),
# one path-string group-by, distributed TakeOrderedAndProject for the
# top-k; no floats anywhere.
# --------------------------------------------------------------------------
_TOP_PATHS_K = 20
_PATH_PREFIX_LEN = 5


@register(
    "events_top_paths",
    oracle=f"""
    WITH fp AS (
      SELECT user_id, tus, event_id FROM (
        SELECT user_id, epoch_us(ts) AS tus, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS rn
        FROM events WHERE event_type = 'purchase')
      WHERE rn = 1
    ),
    t AS (
      SELECT e.user_id, e.event_type AS channel, epoch_us(e.ts) AS tus, e.event_id
      FROM events e JOIN fp ON fp.user_id = e.user_id
      WHERE e.event_type <> 'purchase'
        AND (epoch_us(e.ts) < fp.tus
             OR (epoch_us(e.ts) = fp.tus AND e.event_id < fp.event_id))
    ),
    paths AS (
      SELECT user_id,
             array_to_string(list(channel ORDER BY tus, event_id)
                             [1:{_PATH_PREFIX_LEN}], '>') AS path
      FROM t GROUP BY user_id
    ),
    allp AS (
      SELECT path FROM paths
      UNION ALL
      SELECT 'direct' AS path FROM fp
      WHERE user_id NOT IN (SELECT user_id FROM paths)
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM allp GROUP BY path
    ORDER BY n_users DESC, path ASC LIMIT {_TOP_PATHS_K}
    """,
    tags=("events", "analytics", "attribution", "topk"),
    doc="Top first-purchase touch paths (first 5 touches), counted and "
    "ranked; integer-only.",
)
def events_top_paths(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events").withColumn("tus", F.unix_micros("ts"))
    wp = Window.partitionBy("user_id").orderBy(F.asc("tus"), F.asc("event_id"))
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("tus").alias("ptus"), F.col("event_id").alias("peid"))
    )
    fp = share(fp)  # two consumers: touch join + direct
    t = (
        ev.filter(F.col("event_type") != "purchase")
        .join(fp, "user_id")
        .filter(
            (F.col("tus") < F.col("ptus"))
            | ((F.col("tus") == F.col("ptus")) & (F.col("event_id") < F.col("peid")))
        )
        .select("user_id", F.col("event_type").alias("channel"), "tus", "event_id")
    )
    paths = (
        t.groupBy("user_id")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("tus", "event_id", "channel"))
                        ),
                        lambda s: s["channel"],
                    ),
                    1,
                    _PATH_PREFIX_LEN,
                ),
                ">",
            ).alias("path")
        )
    )
    paths = share(paths)  # two consumers: union + anti
    direct = fp.join(paths.select("user_id"), "user_id", "left_anti").select(
        F.lit("direct").alias("path")
    )
    allp = paths.select("path").unionByName(direct)
    return (
        allp.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(_TOP_PATHS_K)
    )
