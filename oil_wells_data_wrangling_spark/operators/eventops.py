"""Event/stream operator family, batch twins (SURVEY.md §2.D).

Windowed aggregation, gap sessionization, idempotent dedup, and
stream-static enrichment over ``events``. Each has a Structured
Streaming twin in ``streaming/events.py`` built on the same column
logic; the batch form is what the DuckDB oracle checks.

Timestamps: events.ts is nanos in storage, normalized to microsecond
timestamps by the source reader; oracles mirror with
``make_timestamp(epoch_ns(ts) // 1000)`` so both engines compare at
exactly microsecond precision.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oil_wells_data_wrangling_spark.functions.exact import dsum, sql_dsum
from oil_wells_data_wrangling_spark.plans.registry import register
from oil_wells_data_wrangling_spark.sources.readers import load_tables

_TS_US = "make_timestamp(epoch_ns(ts) // 1000)"


# ----------------------------------------------------------- window aggregate

_WINDOW_AGG_ORACLE = f"""
SELECT date_trunc('hour', {_TS_US}) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value', 6)} AS total_value
FROM events
GROUP BY 1, 2
"""


@register("events_window_agg", oracle=_WINDOW_AGG_ORACLE, headline=True)
def events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event type. Batch twin of the streaming
    watermark+window aggregate. Epoch-aligned 1h windows equal
    date_trunc('hour'), and the scalar date_trunc beats F.window()'s
    struct+filter codegen by ~25% at sf0.1 (measured min 0.27s vs
    0.36s), so the batch side groups on the scalar; the streaming twin
    keeps F.window(), which the watermark machinery requires."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 6).alias("total_value"),
        )
    )


# ------------------------------------------------------- sliding window agg

_SLIDING_ORACLE = f"""
WITH e AS (
  SELECT {_TS_US} AS ts, event_type, value FROM events
),
expanded AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type, value FROM e
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value FROM e
)
SELECT window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value', 6)} AS total_value
FROM expanded GROUP BY 1, 2
"""


@register("events_sliding_agg", oracle=_SLIDING_ORACLE)
def events_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window with 30-minute slide: every event lands in
    exactly two overlapping windows. Spark's window() expands rows
    map-side, so the cost is one aggregation shuffle on 2× rows — no
    self-join. The oracle mirrors the expansion with a two-bucket union."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------- sessionize

_SESSIONIZE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, {_TS_US} AS ts, epoch_us({_TS_US}) AS us FROM events
),
marked AS (
  SELECT *, CASE WHEN us - lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(is_new) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) AS session_id
  FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sess GROUP BY user_id, session_id
"""


@register("events_sessionize", oracle=_SESSIONIZE_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session) as
    lag + prefix-sum windows — one shuffle on user_id, no state store in
    batch. Streaming twin uses applyInPandasWithState."""
    t = load_tables(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = us - F.lag(us).over(w)
    marked = t.events.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0),
    ).withColumn("session_id", F.sum("is_new").over(wsum))
    return marked.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


_SESSION_NATIVE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, {_TS_US} AS ts, epoch_us({_TS_US}) AS us FROM events
),
marked AS (
  SELECT *, CASE WHEN us - lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w >= 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(is_new) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) AS session_id
  FROM marked
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sess GROUP BY user_id, session_id
"""


@register("events_sessionize_native", oracle=_SESSION_NATIVE_ORACLE)
def events_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's native ``session_window`` — the
    declarative form of events_sessionize: Catalyst plans the session
    merge itself (one shuffle, no lag/prefix-sum scaffolding), and the
    same expression works under readStream with a watermark. Boundary
    semantics differ from the window-function form: an event exactly at
    the 30-min gap starts a NEW session (window end is exclusive), so
    the oracle uses >= where events_sessionize uses >."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )


# -------------------------------------------------------------- events_funnel

_FUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, {_TS_US} AS ts,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              WHEN 'purchase' THEN 3 ELSE 0 END AS step
  FROM events
),
u AS (
  SELECT user_id, list(step ORDER BY ts, event_id) AS steps FROM e GROUP BY user_id
),
f AS (
  SELECT user_id,
         list_reduce([0] || steps, (acc, x) ->
           CASE WHEN acc = 0 AND x = 1 THEN 1
                WHEN acc = 1 AND x = 2 THEN 2
                WHEN acc = 2 AND x = 3 THEN 3
                ELSE acc END) AS stage
  FROM u
)
SELECT CAST(stage AS INTEGER) AS funnel_stage,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM f GROUP BY 1
"""


@register("events_funnel", oracle=_FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: how far each user progresses through the ordered
    view → click → purchase sequence.

    Bounded per-user state: a monotone funnel only needs first-reach
    keys, so three chained conditional mins over one user-partitioned
    window compute k1 = first view, k2 = first click after k1, k3 =
    first purchase after k2 (key = (ts, event_id) struct, the same tie
    order the oracle sorts by). No collect_list — per-user state is
    three structs, and the window buffer spills instead of holding one
    hot user's whole history in a single array value. One exchange: the
    chained windows and the per-user agg share the user_id partitioning.
    """
    t = load_tables(spark, sf_dir)
    step = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
    )
    e = t.events.select(
        "user_id", step.alias("step"), F.struct("ts", "event_id").alias("k")
    )
    w = Window.partitionBy("user_id")
    e = e.withColumn(
        "k1", F.min(F.when(F.col("step") == 1, F.col("k"))).over(w)
    )
    e = e.withColumn(
        "k2",
        F.min(
            F.when((F.col("step") == 2) & (F.col("k") > F.col("k1")), F.col("k"))
        ).over(w),
    )
    e = e.withColumn(
        "k3",
        F.min(
            F.when((F.col("step") == 3) & (F.col("k") > F.col("k2")), F.col("k"))
        ).over(w),
    )
    stage = (
        F.when(F.col("k3").isNotNull(), 3)
        .when(F.col("k2").isNotNull(), 2)
        .when(F.col("k1").isNotNull(), 1)
        .otherwise(0)
    )
    per_user = e.groupBy("user_id").agg(F.max(stage).alias("stage"))
    return per_user.groupBy(F.col("stage").cast("int").alias("funnel_stage")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ------------------------------------------------------------ events_retention

_RETENTION_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT user_id, epoch_us({_TS_US}) // 86400000000 AS day FROM events
),
act AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active FROM d GROUP BY day
),
ret AS (
  SELECT a.day, CAST(COUNT(*) AS BIGINT) AS n_retained
  FROM d a JOIN d b ON a.user_id = b.user_id AND b.day = a.day + 1
  GROUP BY a.day
)
SELECT act.day, n_active, COALESCE(n_retained, 0) AS n_retained
FROM act LEFT JOIN ret ON act.day = ret.day
"""


@register("events_retention", oracle=_RETENTION_ORACLE)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-day retention cohorts: users active on day d who return on
    d+1. Distinct (user, day) pairs self-join shifted by one day — both
    sides share the same partitioning, so AQE plans a single exchange."""
    t = load_tables(spark, sf_dir)
    d = t.events.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("day"),
    ).distinct()
    act = d.groupBy("day").agg(F.count(F.lit(1)).alias("n_active"))
    a, b = d.alias("a"), d.alias("b")
    ret = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.day") == F.col("a.day") + 1),
        )
        .groupBy(F.col("a.day").alias("rday"))
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    return act.join(ret, F.col("day") == F.col("rday"), "left").select(
        "day",
        "n_active",
        F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
    )


# -------------------------------------------------------------- events_dedup

_DEDUP_ORACLE = f"""
WITH e2 AS (
  SELECT event_id, {_TS_US} AS ts, user_id, event_type, value FROM events
  UNION ALL
  SELECT event_id, {_TS_US} AS ts, user_id, event_type, value FROM events
  WHERE event_id % 5 = 0
)
SELECT event_id, MIN(ts) AS ts, CAST(MIN(user_id) AS BIGINT) AS user_id,
       MIN(event_type) AS event_type, MIN(value) AS value,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM e2 GROUP BY event_id
"""


@register("events_dedup", oracle=_DEDUP_ORACLE)
def events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent event dedup by id (at-least-once delivery collapses to
    exactly-once). Batch twin of dropDuplicatesWithinWatermark."""
    t = load_tables(spark, sf_dir)
    e = t.events.select("event_id", "ts", "user_id", "event_type", "value")
    # single-scan 2-layer synthesis (r16, guide §6): the dups branch
    # re-scanned events; each %5 row now explodes into two copies
    e2 = e.select(
        F.explode(
            F.expr(
                "filter(array("
                "struct(event_id, ts, user_id, event_type, value), "
                "struct(event_id, ts, user_id, event_type, value)), "
                "(x, i) -> i = 0 or event_id % 5 = 0)"
            )
        ).alias("r")
    ).select("r.event_id", "r.ts", "r.user_id", "r.event_type", "r.value")
    return (
        e2
        .groupBy("event_id")
        .agg(
            F.min("ts").alias("ts"),
            F.min("user_id").alias("user_id"),
            F.min("event_type").alias("event_type"),
            F.min("value").alias("value"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ----------------------------------------------------------------- json_props

_JSON_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
       CAST(COUNT(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) >= 50
                       THEN 1 END) AS BIGINT) AS n_high
FROM events GROUP BY event_type
"""


@register("json_props", oracle=_JSON_ORACLE)
def json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON payload extraction (events.props) — typed
    access without a pre-declared schema, aggregated per event type.
    get_json_object evaluates inside the scan; no UDF, no extra pass."""
    t = load_tables(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return t.events.groupBy("event_type").agg(
        F.sum(k).alias("k_total"),
        F.count(F.when(k >= 50, 1)).alias("n_high"),
    )


# -------------------------------------------------------------- events_rolling

_ROLLING_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, {_TS_US} AS ts, epoch_us({_TS_US}) AS us, value
  FROM events
)
SELECT user_id, event_id, ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS sum_last_hour
FROM e
WINDOW w AS (
  PARTITION BY user_id ORDER BY us
  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
)
"""


@register("events_rolling", oracle=_ROLLING_ORACLE)
def events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour per-user activity (range frame over event time) —
    the trailing-window feature a fraud/abuse pipeline computes. One
    shuffle on user_id; the range frame is evaluated with a moving
    pointer, not a per-row rescan."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return t.events.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(30,6)")).over(w).cast("double").alias("sum_last_hour"),
    )


# ------------------------------------------------------------- events_anomaly

_ANOMALY_ORACLE = f"""
WITH stats AS (
  SELECT event_type,
         {sql_dsum('value', 6)} / COUNT(*) AS mean_v,
         {sql_dsum('value * value', 6)} / COUNT(*) AS ex2,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type,
       ROUND((value - mean_v) / sqrt(ex2 - mean_v * mean_v), 4) AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE abs(ROUND((value - mean_v) / sqrt(ex2 - mean_v * mean_v), 4)) >= 2.0
"""


@register("events_anomaly", oracle=_ANOMALY_ORACLE)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| ≥ 2): population moments from exact
    decimal sums (order-independent), tiny stats table broadcast back
    onto the stream — the alerting scan of an observability pipeline."""
    t = load_tables(spark, sf_dir)
    stats = t.events.groupBy(F.col("event_type").alias("s_type")).agg(
        (dsum("value", 6) / F.count(F.lit(1))).alias("mean_v"),
        (dsum(F.col("value") * F.col("value"), 6) / F.count(F.lit(1))).alias("ex2"),
    )
    z = F.round(
        (F.col("value") - F.col("mean_v"))
        / F.sqrt(F.col("ex2") - F.col("mean_v") * F.col("mean_v")),
        4,
    )
    return (
        t.events.join(F.broadcast(stats), F.col("event_type") == F.col("s_type"))
        .select("event_id", "event_type", z.alias("z"))
        .filter(F.abs(F.col("z")) >= 2.0)
    )


# ------------------------------------------------------------------ asof_join

_ASOF_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, {_TS_US} AS ts, event_type, value FROM events
),
m AS (
  SELECT *, CASE WHEN event_type = 'click' THEN value END AS cv FROM e
)
SELECT event_id, user_id, event_type,
       last_value(cv IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS last_click_value
FROM m
"""


@register("asof_join", oracle=_ASOF_ORACLE)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark lacks natively): attach to every
    event the value of the most recent click at-or-before it by the same
    user. Expressed as a merged stream + ignore-nulls running last —
    ONE shuffle on the key, no range join explosion; the same plan holds
    for a fact-to-dimension as-of at 100 TB (union, tag, window)."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cv = F.when(F.col("event_type") == "click", F.col("value"))
    return t.events.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(cv, ignorenulls=True).over(w).alias("last_click_value"),
    )


# -------------------------------------------------------------- events_enrich

_ENRICH_ORACLE = """
SELECT event_id, user_id, c_mktsegment
FROM events LEFT JOIN customer ON user_id = c_custkey
"""


@register("events_enrich", oracle=_ENRICH_ORACLE)
def events_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: fact stream joins a broadcast dimension.
    In streaming form the static side is re-broadcast per micro-batch.
    The hint is the PATTERN being demonstrated and presumes the
    dimension fits executor memory (a user/account dim usually does);
    for a dimension that grows past broadcast size, drop the hint and
    let the micro-batch shuffle-join — same code shape."""
    t = load_tables(spark, sf_dir)
    dim = t.customer.select("c_custkey", "c_mktsegment")
    return t.events.join(
        F.broadcast(dim), F.col("user_id") == F.col("c_custkey"), "left"
    ).select("event_id", "user_id", "c_mktsegment")


# ----------------------------------------------------------------- anomaly_mad

_MAD_ORACLE = """
WITH r1 AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
med AS (
  SELECT event_type, value AS med FROM r1 WHERE rn = (n + 1) // 2
),
d AS (
  SELECT r.event_type, r.event_id, r.value, m.med,
         abs(r.value - m.med) AS dev
  FROM r1 r JOIN med m ON r.event_type = m.event_type
),
r2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn2,
         COUNT(*) OVER (PARTITION BY event_type) AS n2
  FROM d
),
mad AS (
  SELECT event_type, dev AS mad FROM r2 WHERE rn2 = (n2 + 1) // 2
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(d.med) AS med,
       MIN(mad.mad) AS mad,
       CAST(COUNT(*) FILTER (d.dev > 3 * mad.mad) AS BIGINT) AS n_anomalies
FROM d JOIN mad ON d.event_type = mad.event_type
GROUP BY d.event_type
"""


@register("anomaly_mad", oracle=_MAD_ORACLE)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: median absolute deviation instead of
    the z-score's mean/stddev (events_anomaly), so a burst of outliers
    can't drag its own threshold. Discrete lower medians — exact data
    values via integer ranks, no interpolation — keep every comparison
    bit-identical across engines. Two window shuffles on event_type +
    two broadcast-sized scalar joins."""
    t = load_tables(spark, sf_dir)
    w1 = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r1 = t.events.select(
        "event_type",
        "event_id",
        "value",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = r1.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("value").alias("med")
    )
    d = r1.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    w2 = Window.partitionBy("event_type").orderBy("dev", "event_id")
    r2 = d.select(
        "*",
        F.row_number().over(w2).alias("rn2"),
        F.count(F.lit(1)).over(wn).alias("n2"),
    )
    mad = r2.filter(F.col("rn2") == F.expr("(n2 + 1) div 2")).select(
        "event_type", F.col("dev").alias("mad")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum((F.col("dev") > 3 * F.col("mad")).cast("long"))
            .cast("bigint")
            .alias("n_anomalies"),
        )
    )


# ------------------------------------------------------------ events_gap_fill

_GAP_FILL_ORACLE = f"""
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch_us({_TS_US}) / 3600000000) AS BIGINT) AS h,
         value
  FROM events
),
agg AS (
  SELECT user_id, h,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {sql_dsum('value', 6)} AS hour_value
  FROM e GROUP BY 1, 2
),
spine AS (
  SELECT user_id, unnest(generate_series(min(h), max(h))) AS h
  FROM e GROUP BY user_id
),
j AS (
  SELECT s.user_id, s.h,
         COALESCE(a.n_events, 0) AS n_events, a.hour_value
  FROM spine s LEFT JOIN agg a ON s.user_id = a.user_id AND s.h = a.h
)
SELECT user_id, h AS hour_id, CAST(n_events AS BIGINT) AS n_events,
       last_value(hour_value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM j
"""


@register("events_gap_fill", oracle=_GAP_FILL_ORACLE)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: resample each user's event stream to
    an hourly grid between their first and last event, carrying the
    last observed hourly value forward across gaps (n_events=0 rows) —
    the resample + forward-fill every downstream feature/monitoring
    job needs before joining time series.

    Scale shape: the hourly pre-aggregation shuffles once on
    (user, hour); the spine is a per-user sequence() explode (bounded
    by the user's own time range, never a global calendar cross join);
    the forward fill is a user-partitioned last(ignorenulls) window
    reusing the same partitioning. Exact: hourly sums go through the
    scaled-int64 dsum, so the carried value is bit-identical across
    engines."""
    t = load_tables(spark, sf_dir)
    e = t.events.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 3_600_000_000).cast("bigint").alias("h"),
        "value",
    )
    agg = e.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 6).alias("hour_value"),
    )
    spine = (
        e.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select("user_id", F.explode(F.sequence("h0", "h1")).alias("h"))
    )
    j = spine.join(agg, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.col("h").alias("hour_id"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
    )


# ---------------------------------------------------------------- events_topk

_TOPK_K = 3

_EVENTS_TOPK_ORACLE = f"""
WITH c AS (
  SELECT date_trunc('hour', {_TS_US}) AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, CAST(rk AS INTEGER) AS rank, event_type, n_events
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY window_start ORDER BY n_events DESC, event_type) AS rk
  FROM c
) WHERE rk <= {_TOPK_K}
"""


@register("events_topk", oracle=_EVENTS_TOPK_ORACLE)
def events_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k event types per tumbling hour — the 'trending now' rollup a
    monitoring dashboard reads per window.

    Scale shape: the count aggregates map-side per (window, type) —
    cardinality is windows × types, not events; the per-window rank
    window then carries only that bounded frame, with WindowGroupLimit
    pushing rank<=k partial top-ks ahead of its shuffle (pinned)."""
    t = load_tables(spark, sf_dir)
    c = (
        t.events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        c.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOPK_K)
        .select("window_start", "rank", "event_type", "n_events")
    )


# ----------------------------------------------------------------- scd2_apply

_SCD2_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type AS status, {_TS_US} AS ts, event_id FROM events
)
SELECT user_id, status, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_current
FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("scd2_apply", oracle=_SCD2_ORACLE)
def scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: each user's
    event stream becomes validity intervals — every status row carries
    [valid_from, valid_to) from its own timestamp to the next change,
    open-ended (is_current) on the last. The lakehouse dimension-table
    pattern cdc_apply's latest-wins compaction is the type-1 half of.

    Scale shape: one user-partitioned window (lead), no joins — the
    shuffle is the single hash exchange on user_id; interval assembly
    is a projection over the sorted run. Skew = one user's event count,
    not corpus size."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return t.events.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


# ------------------------------------------------------ events_distinct_windowed

_EDW_ORACLE = f"""
SELECT date_trunc('hour', {_TS_US}) AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS users_within_5pct
FROM events GROUP BY 1
"""


@register("events_distinct_windowed", oracle=_EDW_ORACLE)
def events_distinct_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per tumbling hour, exact + HyperLogLog sketch —
    the windowed-cardinality rollup (DAU/WAU-style) a monitoring
    pipeline runs continuously. Sketch estimates are engine-specific,
    so the contract matches approx_distinct: the exact count is shared
    with the oracle and a boolean asserts the lgK=14 Datasketches
    estimate (the rsd=0.01 accuracy class) lands within 5% of it
    (oracle emits literal TRUE).

    Scale shape: the exact distinct expands to two partial aggregates
    on (window, user); the HLL sketch adds only constant-size state per
    partition and no extra shuffle of values — at 100 TB the sketch
    column is the one a dashboard reads, with the exact count sampled
    for audit."""
    t = load_tables(spark, sf_dir)
    # Datasketches HLL (lgK=14 — the rsd=0.01 accuracy class) instead
    # of approx_count_distinct(user_id, 0.01): the legacy HLL++ agg
    # plans one Long attribute per register word (1,639 per sketch,
    # PER GROUP here), blowing codegen and planning — see
    # approx_distinct (analytics.py) for the measured pathology.
    agg = t.events.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count_distinct("user_id").alias("n_users_exact"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").alias(
            "n_users_hll"
        ),
    )
    return agg.select(
        F.col("w.start").alias("window_start"),
        "n_users_exact",
        (
            F.abs(F.col("n_users_hll") - F.col("n_users_exact"))
            / F.col("n_users_exact")
            <= F.lit(0.05)
        ).alias("users_within_5pct"),
    )


# ------------------------------------------------------------- hll_union_daily

_HLL_UNION_ORACLE = f"""
WITH e AS (SELECT CAST(date_trunc('day', {_TS_US}) AS DATE) AS day, user_id
           FROM events)
SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS union_within_5pct
FROM e
"""


@register("hll_union_daily", oracle=_HLL_UNION_ORACLE)
def hll_union_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-day distinct users via HyperLogLog sketch MERGE — the
    100 TB pattern behind every 'weekly uniques' dashboard: store one
    constant-size sketch per day, then UNION the sketches instead of
    re-scanning a week of raw events. Sketch bytes are engine-specific,
    so the contract is the approx_distinct one: the exact recount is
    shared with the oracle and a boolean asserts the merged estimate
    lands within 5% of it (oracle emits literal TRUE).

    Scale shape: stage 1 is a day-keyed partial agg producing one
    ~KB Datasketches HLL per day; stage 2 merges those few rows on the
    driver side of a tiny final agg — raw (day, user) pairs shuffle
    once for the audit recount, and at production scale the recount
    term drops away leaving sketch-only state."""
    t = load_tables(spark, sf_dir)
    daily = t.events.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    exact = t.events.agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    merged = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("n_est"),
    )
    return (
        merged.crossJoin(F.broadcast(exact))
        .select(
            "n_days",
            "n_users_exact",
            (
                F.abs(F.col("n_est") - F.col("n_users_exact"))
                / F.col("n_users_exact")
                <= F.lit(0.05)
            ).alias("union_within_5pct"),
        )
    )


# ---------------------------------------------------------- events_attribution

_ATTRIB_ORACLE = f"""
WITH c AS (
  SELECT user_id, event_id AS click_id, {_TS_US} AS click_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, {_TS_US} AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT p.user_id, p.purchase_id, p.value
  FROM c JOIN p ON c.user_id = p.user_id
   AND p.purchase_ts > c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
),
per_purchase AS (
  SELECT user_id, purchase_id, value,
         CAST(COUNT(*) AS BIGINT) AS n_clicks
  FROM pairs GROUP BY 1, 2, 3
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(n_clicks) AS BIGINT) AS n_pairs,
       {sql_dsum('value', 6)} AS attributed_value
FROM per_purchase GROUP BY user_id
"""


@register("events_attribution", oracle=_ATTRIB_ORACLE)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution: purchases preceded by a click from
    the same user in the prior 30 minutes, rolled up per user — the
    batch face of the stream-stream interval join
    (streaming/events.py::stream_attribution, whose live twin carries
    watermarks on BOTH sides so click state expires instead of
    accumulating forever; test_streaming.py proves pair-level equality).

    Scale shape: both sides prune to (user_id, ts[, value]) in the
    scan and shuffle once on user_id; the range predicate is evaluated
    inside the join, and the 30-minute bound caps pair fan-out per
    click the same way the streaming state bound does. Attributed value
    is deduplicated per purchase first (a purchase with 3 prior clicks
    counts once), so the rollup is two partial aggs on the SAME
    user-keyed partitioning — no second exchange."""
    t = load_tables(spark, sf_dir)
    clicks = t.events.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts")
    )
    purchases = t.events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    pairs = clicks.join(
        purchases,
        ["user_id"],
    ).filter(
        (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        )
    )
    per_purchase = pairs.groupBy("user_id", "purchase_id", "value").agg(
        F.count(F.lit(1)).alias("n_clicks")
    )
    return per_purchase.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("n_clicks").cast("bigint").alias("n_pairs"),
        dsum("value", 6).alias("attributed_value"),
    )


# ----------------------------------------------------------- events_rate_limit

_RATE_LIMIT_N = 3

_RATE_LIMIT_ORACLE = f"""
WITH ranked AS (
  SELECT user_id,
         CAST(row_number() OVER (
           PARTITION BY user_id, date_trunc('minute', {_TS_US})
           ORDER BY {_TS_US}, event_id) AS BIGINT) AS rk
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN rk <= {_RATE_LIMIT_N} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rk > {_RATE_LIMIT_N} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_dropped
FROM ranked GROUP BY user_id
"""


@register("events_rate_limit", oracle=_RATE_LIMIT_ORACLE)
def events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rate limiting audit: keep the first N events per
    (user, minute), count kept vs dropped per user — the ingestion
    throttle / bot-mitigation pass an event pipeline runs before
    sessionization (a burst of automated events would otherwise dominate
    per-user aggregates downstream).

    Scale shape: ONE window shuffle keyed on (user, minute) — partitions
    are bounded by a minute of one user's activity, so no hot key can
    exceed burst size × 60s; the deterministic (ts, event_id) order
    makes the kept set reproducible across runs and engines. The rollup
    groups by user only — a prefix of the window key, so AQE coalesces
    rather than re-shuffles. In streaming form this is exactly the
    per-key state of a transformWithState throttle; the batch window is
    its replayable twin."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy(
        "user_id", F.date_trunc("minute", F.col("ts"))
    ).orderBy("ts", "event_id")
    ranked = t.events.select(
        "user_id", F.row_number().over(w).cast("bigint").alias("rk")
    )
    n = _RATE_LIMIT_N
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("rk") <= n, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("rk") > n, 1).otherwise(0)).alias("n_dropped"),
    )


# ---------------------------------------------------------- events_transitions

_TRANSITIONS_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY {_TS_US}, event_id) AS prev_type
  FROM events
),
tr AS (
  SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM tr)
SELECT prev_type, next_type, n,
       CAST((1000 * n) // t AS BIGINT) AS permille
FROM tr CROSS JOIN tot
"""


@register("events_transitions", oracle=_TRANSITIONS_ORACLE)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey transition matrix: counts of consecutive
    (prev event → next event) pairs across all user timelines, with a
    permille share — the Markov-chain view of product flows
    (view→click→purchase vs view→error) that funnel analysis
    (events_funnel) summarizes and this operator exposes raw.

    Scale shape: ONE window shuffle keyed on user_id (a user's timeline
    sorts within its partition; no global order anywhere), then a
    partial-agg shuffle bounded by |event_type|² — 25 rows here, still
    tiny for any real event taxonomy. The total for the share column is
    a one-row broadcast over that bounded aggregate. The deterministic
    (ts, event_id) tiebreak keeps lag() reproducible across engines and
    partition layouts."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    tr = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = tr.agg(F.sum("n").cast("bigint").alias("t"))
    return tr.crossJoin(F.broadcast(tot)).select(
        "prev_type",
        "next_type",
        "n",
        F.expr("(1000 * n) div t").alias("permille"),
    )


# --------------------------------------------------------- incremental_rollup

_INCR_CUTOFF = "2024-01-15 00:00:00"

_INCR_ORACLE = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value', 6)} AS total_value
FROM events
GROUP BY event_type
"""


@register("incremental_rollup", oracle=_INCR_ORACLE)
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the stored rollup for
    data up to a checkpoint merges with the delta batch's partials, and
    the result must equal the from-scratch rollup — the correctness
    contract of every incremental pipeline. The oracle IS the direct
    full rollup, so the hash match proves merge-equals-recompute.

    Scale shape: the aggregate state is MERGEABLE on purpose — (count,
    scaled-int64 sum) partials add associatively, so the merge is a
    union of two bounded per-type tables + one re-aggregation, never a
    re-scan of history (the 100 TB path: history partials live in the
    store, each refresh scans only the delta partition). The exact
    scaled-int sum is what makes this safe: double partials would make
    merge-vs-recompute differ by accumulation order, breaking the
    self-check the operator exists to provide; with int64 cents the two
    plans agree bit-for-bit."""
    t = load_tables(spark, sf_dir)
    cutoff = F.lit(_INCR_CUTOFF).cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        # raw mergeable state: count + scaled-int64 sum (dsum's addend)
        m = 10**6
        lim = float(2**62 // m)
        guarded = F.when(
            F.col("value").between(-lim, lim), F.col("value")
        )
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(guarded * m).cast("bigint")).alias("sv"),
        )

    stored = partials(t.events.filter(F.col("ts") < cutoff))
    delta = partials(t.events.filter(F.col("ts") >= cutoff))
    return (
        stored.unionAll(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sv").alias("sv"),
        )
        .select(
            "event_type",
            "n_events",
            (F.col("sv") / float(10**6)).alias("total_value"),
        )
    )


# ---------------------------------------------------------- scd2_attribution

_SCD2_ATTR_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, {_TS_US} AS ts, event_id, value FROM events
),
st AS (
  SELECT user_id, event_type AS status, ts, event_id,
         lead(ts) OVER w AS nts, lead(event_id) OVER w AS nid
  FROM ev WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
p AS (
  SELECT user_id, ts, event_id, value FROM ev WHERE event_type = 'purchase'
)
SELECT COALESCE(s.status, 'none') AS status,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users,
       {sql_dsum('p.value', 6)} AS attributed_value
FROM p LEFT JOIN st s ON p.user_id = s.user_id
  AND (s.ts < p.ts OR (s.ts = p.ts AND s.event_id < p.event_id))
  AND (s.nts IS NULL OR p.ts < s.nts
       OR (p.ts = s.nts AND p.event_id < s.nid))
GROUP BY 1
"""


@register("scd2_attribution", oracle=_SCD2_ATTR_ORACLE)
def scd2_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel attribution over SCD2 validity intervals: every purchase
    is attributed to the status the user was IN at purchase time — the
    interval of the ``scd2_apply`` dimension (built from the user's
    non-purchase events) that contains the purchase's (ts, event_id)
    point — then revenue rolls up per status. A purchase before any
    status event lands in 'none'. This is the point-in-time-correct
    dimension lookup (feature-store "as-of" semantics): joining on the
    CURRENT status instead would leak future information.

    Two equivalent formulations exist, and each side runs a different
    one so the oracle is a genuine cross-check: the SQL oracle builds
    lead()-bounded intervals and point-in-interval LEFT JOINs each
    purchase into them; the Spark plan never materializes intervals at
    all — it unions facts into the event stream and takes
    last(status, ignorenulls) over a (ts, event_id)-ordered running
    window per user. The window form is the 100 TB winner: ONE
    user-keyed hash exchange, state = one running value per user, no
    join fan-out, and no interval table to rebuild when history
    backfills. (The interval-join form shuffles both sides AND risks
    per-user fan-out before the range predicate filters; its win is
    incremental maintenance — a static dimension joined by many fact
    scans — which ``asof_join`` covers.) Total (ts, event_id) order
    makes attribution deterministic under equal timestamps."""
    t = load_tables(spark, sf_dir)
    ev = t.events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias(
            "status_ev"
        ),
        (F.col("event_type") == "purchase").alias("is_purchase"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attributed = ev.withColumn(
        "status", F.last("status_ev", ignorenulls=True).over(w)
    ).filter("is_purchase")
    return attributed.groupBy(
        F.coalesce("status", F.lit("none")).alias("status")
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count_distinct("user_id").alias("n_users"),
        dsum("value", 6).alias("attributed_value"),
    )


# ------------------------------------------------------- hll_persist_incremental

_HLL_PERSIST_CUTOFF = "2024-01-15 00:00:00"

_HLL_PERSIST_ORACLE = f"""
WITH e AS (SELECT CAST(date_trunc('day', {_TS_US}) AS DATE) AS day, user_id
           FROM events)
SELECT CAST(COUNT(DISTINCT CASE WHEN day <  DATE '2024-01-15' THEN day END)
         AS BIGINT) AS n_days_persisted,
       CAST(COUNT(DISTINCT CASE WHEN day >= DATE '2024-01-15' THEN day END)
         AS BIGINT) AS n_days_fresh,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS union_within_5pct
FROM e
"""


def _daily_hll_sketch(df: DataFrame) -> DataFrame:
    return df.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )


def hll_state_backfill(events: DataFrame, state_dir: str, cutoff) -> None:
    """One-time backfill: persist one Datasketches HLL per pre-cutoff
    day to the parquet state table at ``state_dir`` (any Spark-readable
    URI — on a cluster this is a shared filesystem/object-store path,
    never a driver-local disk). ~KB per day regardless of event
    volume."""
    _daily_hll_sketch(events.filter(F.col("ts") < cutoff)).write.parquet(
        state_dir
    )


def hll_state_merge(
    spark: SparkSession, events: DataFrame, state_dir: str, cutoff
) -> DataFrame:
    """The recurring incremental run: sketch ONLY the post-cutoff events
    (``events`` may already be pruned to the fresh range — history is
    never rescanned), union with the state table read back from
    ``state_dir``, and merge every sketch with ``hll_union_agg``.
    Returns one row: (n_days_persisted, n_days_fresh, n_est)."""
    fresh = _daily_hll_sketch(events.filter(F.col("ts") >= cutoff))
    stored = spark.read.parquet(state_dir)
    return stored.unionAll(fresh).agg(
        F.count(F.when(F.col("day") < F.to_date(cutoff), 1)).alias(
            "n_days_persisted"
        ),
        F.count(F.when(F.col("day") >= F.to_date(cutoff), 1)).alias(
            "n_days_fresh"
        ),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("n_est"),
    )


@register("hll_persist_incremental", oracle=_HLL_PERSIST_ORACLE)
def hll_persist_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance with a PERSISTED state table —
    the production shape behind ``hll_union_daily``: a backfill run
    writes one Datasketches HLL per day to a parquet state table
    (binary sketch column + day key); the incremental run scans ONLY
    the post-cutoff raw events, sketches the new days, unions the
    fresh rows with the state table read back from parquet, and merges
    all sketches with ``hll_union_agg`` — no rescan of history, ever.
    The audit recount (exact distinct over the full range) is what the
    oracle shares; a boolean asserts the merged estimate lands within
    5% of it, proving the sketches survived the parquet round-trip
    intact (a truncated/corrupted binary column would blow the bound
    or fail to merge).

    Scale shape: state is ~KB per day regardless of event volume, so
    ten years of history is ~4 MB read by one task; the incremental
    scan's ``ts >= cutoff`` predicate pushes down to the parquet
    reader (day-partitioned storage would prune files entirely). The
    recount term exists only for the correctness gate — at 100 TB the
    dashboard reads the sketch union alone, which is the point: an
    exact COUNT(DISTINCT) over the full range re-shuffles all history
    every refresh; the sketch union shuffles nothing.

    The pattern itself is parameterized: ``hll_state_backfill`` /
    ``hll_state_merge`` take ``state_dir`` as an explicit argument (a
    real deployment passes a shared filesystem/object-store URI —
    executors cannot read a driver's local disk). This REGISTERED demo
    wires them to a throwaway ``tempfile.mkdtemp`` path, which is
    single-node-only; and the backfill write runs EAGERLY at
    plan-construction time, so a harness that times only the returned
    DataFrame's action measures the incremental merge alone — by
    design, since that is the recurring cost the operator exists to
    bound, but don't read its bench row as covering the one-time
    backfill."""
    t = load_tables(spark, sf_dir)
    cutoff = F.lit(_HLL_PERSIST_CUTOFF).cast("timestamp")

    work = tempfile.mkdtemp(prefix="hll_state_")
    state_dir = os.path.join(work, "daily_sketches")
    hll_state_backfill(t.events, state_dir, cutoff)
    merged = hll_state_merge(spark, t.events, state_dir, cutoff)
    exact = t.events.agg(F.count_distinct("user_id").alias("n_users_exact"))
    out = (
        merged.crossJoin(F.broadcast(exact))
        .select(
            F.col("n_days_persisted").cast("bigint"),
            F.col("n_days_fresh").cast("bigint"),
            "n_users_exact",
            (
                F.abs(F.col("n_est") - F.col("n_users_exact"))
                / F.col("n_users_exact")
                <= F.lit(0.05)
            ).alias("union_within_5pct"),
        )
        .localCheckpoint(eager=True)  # sever lineage so the dir can go
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


# ---------------------------------------------------------- late_arrival_audit

# candidate watermark delays (minutes) — the knob being tuned
_LATE_DELAYS_MIN = (0, 1, 5, 30, 120)
_LATE_EPOCHS = 256

_LATE_SQL_DELAYS = ", ".join(f"({m})" for m in _LATE_DELAYS_MIN)

_LATE_AUDIT_ORACLE = f"""
WITH e AS (
  SELECT event_id, epoch_us({_TS_US}) AS us FROM events
),
mx AS (SELECT MAX(event_id) AS mid FROM e),
b AS (
  SELECT e.event_id, e.us,
         CAST(e.event_id * {_LATE_EPOCHS} // (mx.mid + 1) AS BIGINT) AS epoch
  FROM e CROSS JOIN mx
),
em AS (SELECT epoch, MAX(us) AS emax FROM b GROUP BY epoch),
wm AS (
  SELECT epoch,
         MAX(emax) OVER (ORDER BY epoch
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS wm_us
  FROM em
),
d(delay_min) AS (VALUES {_LATE_SQL_DELAYS})
SELECT CAST(d.delay_min AS BIGINT) AS delay_min,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN wm.wm_us IS NOT NULL
                      AND b.us < wm.wm_us - CAST(d.delay_min AS BIGINT) * 60000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN wm.wm_us IS NOT NULL
                      AND b.us < wm.wm_us - CAST(d.delay_min AS BIGINT) * 60000000
                     THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
         AS BIGINT) AS ppm_dropped
FROM b JOIN wm ON b.epoch = wm.epoch CROSS JOIN d
GROUP BY d.delay_min
"""


@register("late_arrival_audit", oracle=_LATE_AUDIT_ORACLE)
def late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay tuning curve: for each candidate delay, how many
    events the streaming twins WOULD drop — the query run before
    choosing `withWatermark(...)` so the drop rate is a decision, not a
    surprise. Arrival order is proxied by event_id (the monotonic
    ingest id); arrival is discretized into 256 equal-id epochs (the
    stand-ins for micro-batches), the watermark before epoch b is
    max event-time over epochs < b minus the delay, and an event drops
    iff its time is below that watermark. All comparisons are integer
    microseconds — exact on both engines.

    Scale shape: the per-epoch max is a 256-group partial agg (tiny);
    the prefix-max window runs over exactly 256 rows — bounded by
    construction, NOT by data size, so the empty-partition-spec fence
    admits it; the epoch watermark broadcasts back onto the scan and
    the delay grid expands ×5 map-side into a 5-group partial agg. No
    row-sized shuffle anywhere: the audit costs one scan plus
    constant-size state, the same budget the streaming watermark
    machinery itself spends."""
    t = load_tables(spark, sf_dir)
    e = t.events.select("event_id", F.unix_micros("ts").alias("us"))
    mx = e.agg(F.max("event_id").alias("mid"))
    b = e.crossJoin(F.broadcast(mx)).select(
        "us",
        F.expr(f"event_id * {_LATE_EPOCHS} div (mid + 1)").alias("epoch"),
    )
    em = b.groupBy("epoch").agg(F.max("us").alias("emax"))
    # prefix max via a triangular self-join over the 256-row epoch
    # table (≤ 32k pairs, broadcast) — no empty-partition-spec Window
    # anywhere in the plan; the oracle uses the window formulation, so
    # the two shapes cross-check each other
    prior = em.select(
        F.col("epoch").alias("p_epoch"), F.col("emax").alias("p_max")
    )
    wm = (
        em.join(F.broadcast(prior), F.col("p_epoch") < F.col("epoch"), "left")
        .groupBy("epoch")
        .agg(F.max("p_max").alias("wm_us"))
    )
    delays = spark.range(len(_LATE_DELAYS_MIN)).select(
        F.element_at(
            F.array(*[F.lit(m) for m in _LATE_DELAYS_MIN]),
            (F.col("id") + 1).cast("int"),
        ).cast("bigint").alias("delay_min")
    )
    dropped = F.when(
        F.col("wm_us").isNotNull()
        & (F.col("us") < F.col("wm_us") - F.col("delay_min") * 60_000_000),
        1,
    ).otherwise(0)
    return (
        b.join(F.broadcast(wm), "epoch")
        .crossJoin(F.broadcast(delays))
        .groupBy("delay_min")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dropped).cast("bigint").alias("n_dropped"),
            F.expr(
                "cast(sum(case when wm_us is not null"
                " and us < wm_us - delay_min * 60000000"
                " then 1 else 0 end) * 1000000 div count(*) as bigint)"
            ).alias("ppm_dropped"),
        )
    )


# -------------------------------------------------------------- events_burst

_BURST_SUPPORT = 8    # min trailing-24h events before a spike can qualify
_BURST_FACTOR = 3     # n_events must exceed FACTOR x the trailing hourly avg

_BURST_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us({_TS_US}) AS us FROM events
),
h AS (
  SELECT user_id, us // 3600000000 AS hr, COUNT(*) AS cnt
  FROM e GROUP BY 1, 2
),
w AS (
  SELECT *, COALESCE(SUM(cnt) OVER (
    PARTITION BY user_id ORDER BY hr
    RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING
  ), 0) AS trail
  FROM h
)
SELECT user_id,
       make_timestamp(hr * 3600000000) AS hour_start,
       CAST(cnt AS BIGINT) AS n_events,
       CAST(trail AS BIGINT) AS trailing_sum
FROM w
WHERE trail >= {_BURST_SUPPORT}
  AND cnt * 24 > {_BURST_FACTOR} * trail
"""


@register("events_burst", oracle=_BURST_ORACLE)
def events_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: flag every (user, hour) whose event count
    exceeds {FACTOR}× the user's trailing-24-hour hourly average —
    the rate-anomaly primitive behind abuse detection and crawler
    throttling (anomaly_mad is its value-based sibling; this one is
    frequency-based).

    The comparison is pure integers: ``cnt·24 > FACTOR·Σtrailing``
    treats absent hours as zero (a RANGE frame over the epoch-hour
    key, NOT a ROWS frame — gaps in activity must widen the window's
    denominator, which a 24-ROW frame would silently ignore), and the
    support floor keeps one-off first events from flagging. No floats
    anywhere, so the oracle is bit-exact.

    Scale shape: one shuffle to (user, hour) counts — the only
    exchange keyed on raw volume — then a per-user window whose state
    is user-hours (≤ 24·365 rows/user/year, thousands of times smaller
    than events). Partition-bounded window, no single-partition risk;
    the streaming cousin is events_rate_limit's per-key counter."""
    t = load_tables(spark, sf_dir)
    h = (
        t.events.select(
            "user_id", F.expr("unix_micros(ts) div 3600000000").alias("hr")
        )
        .groupBy("user_id", "hr")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("user_id").orderBy("hr").rangeBetween(-24, -1)
    )
    flagged = h.withColumn(
        "trailing", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    ).filter(
        (F.col("trailing") >= _BURST_SUPPORT)
        & (F.col("cnt") * 24 > _BURST_FACTOR * F.col("trailing"))
    )
    return flagged.select(
        "user_id",
        F.timestamp_seconds(F.col("hr") * 3600).alias("hour_start"),
        F.col("cnt").alias("n_events"),
        F.col("trailing").alias("trailing_sum"),
    )


# ------------------------------------------------------------- events_ab_lift

_AB_SCALE = 1_000_000
_AB_MIN_PURCHASES = 14  # "high-value" bar: splits the dense synthetic cohorts near the median

_AB_LIFT_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(user_id % 2 AS INTEGER) AS cohort,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= {_AB_MIN_PURCHASES} THEN 1 ELSE 0 END AS converted,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                  AND value BETWEEN -4.6116860184273879e16
                                AND 4.6116860184273879e16
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS rev_cents
  FROM events
  GROUP BY user_id
)
SELECT cohort,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       CAST((SUM(converted) * {_AB_SCALE}) // COUNT(*) AS BIGINT)
         AS conv_ppm,
       CAST(SUM(rev_cents) AS BIGINT) / 100.0 AS revenue
FROM u GROUP BY cohort
"""


@register("events_ab_lift", oracle=_AB_LIFT_ORACLE)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: users split into cohorts by a deterministic
    assignment hash (parity here; salted-md5 in production — the same
    deterministic-acceptance trick as sample_corpus), then per-cohort
    conversion (did the user clear the high-value purchase bar?) as an
    exact ppm rate and
    purchase revenue as a scaled-int64 cents sum divided to double
    once. The A/B table every growth dashboard starts from.

    Scale shape: ONE shuffle to per-user aggregates (conversion flag +
    revenue cents ride the same exchange), then a 2-row cohort rollup.
    Revenue stays integer through both aggregation levels, so the
    oracle is bit-exact; the conversion rate is an integer floor-div
    ppm — no float division anywhere."""
    from oil_wells_data_wrangling_spark.functions.exact import (
        _finite_in_window,
    )

    t = load_tables(spark, sf_dir)
    is_purchase = F.col("event_type") == "purchase"
    cents = F.when(
        is_purchase,
        F.coalesce(
            F.round(_finite_in_window(F.col("value"), 100) * 100).cast(
                "bigint"
            ),
            F.lit(0),
        ),
    ).otherwise(0)
    u = t.events.groupBy("user_id").agg(
        (
            F.sum(F.when(is_purchase, 1).otherwise(0))
            >= _AB_MIN_PURCHASES
        )
        .cast("int")
        .alias("converted"),
        F.sum(cents).alias("rev_cents"),
    )
    return (
        u.select((F.col("user_id") % 2).cast("int").alias("cohort"), "converted", "rev_cents")
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            F.expr(f"(sum(converted) * {_AB_SCALE}) div count(*)").alias(
                "conv_ppm"
            ),
            (F.sum("rev_cents") / F.lit(100.0)).alias("revenue"),
        )
    )


# --------------------------------------------------------------- events_cms_topk

# Count-Min Sketch: depth 4 md5-derived hash rows x width 1024. The
# sketch is the fixed-size mergeable summary for heavy hitters over an
# UNBOUNDED key domain — the counting cousin of hll_union_daily's
# distinct sketch and approx_percentiles' quantile sketch. Cell-wise
# sum merges sketches across days/partitions; estimates only ever
# OVER-count (min over rows bounds the collision error).
_CMS_D = 4
_CMS_W = 1024
_CMS_K = 20

_CMS_BUCKET_SPARK = (
    "cast(conv(substr(md5(concat('cms', cast({d} as string), '_', "
    "cast(user_id as string))), 1, 8), 16, 10) as bigint) % " + str(_CMS_W)
)
_CMS_BUCKET_DUCK = (
    "CAST('0x' || substr(md5('cms' || CAST({d} AS VARCHAR) || '_' || "
    f"CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % {_CMS_W}"
)

_CMS_ORACLE = f"""
WITH cells AS (
  SELECT r.range AS d,
         {_CMS_BUCKET_DUCK.format(d='r.range')} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events CROSS JOIN range(0, {_CMS_D}) r
  GROUP BY 1, 2
),
truec AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM events GROUP BY user_id
),
top AS (
  SELECT user_id, n_true, rk FROM (
    SELECT user_id, n_true,
           row_number() OVER (ORDER BY n_true DESC, user_id) AS rk
    FROM truec
  ) WHERE rk <= {_CMS_K}
),
est AS (
  SELECT t.user_id, MIN(c.n) AS n_est
  FROM top t CROSS JOIN range(0, {_CMS_D}) r
  JOIN cells c
    ON c.d = r.range
   AND c.bucket = {_CMS_BUCKET_DUCK.format(d='r.range')}
  GROUP BY t.user_id
)
SELECT CAST(t.rk AS INTEGER) AS rank, t.user_id, t.n_true,
       CAST(e.n_est AS BIGINT) AS n_est,
       e.n_est = t.n_true AS exact
FROM top t JOIN est e USING (user_id)
"""


@register("events_cms_topk", oracle=_CMS_ORACLE)
def events_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters: build the 4×1024 sketch over the
    event stream, then audit it against the exact top-{_CMS_K} users —
    per user the true count, the sketch estimate (min over the 4 hash
    rows), and whether collisions inflated it. The deterministic
    md5-derived hashes make the sketch itself exactly oracle-checkable,
    like dp_histogram's derandomized noise; production swaps in faster
    row hashes, same plan.

    Scale shape: the sketch build is ONE pass — the 4-way explode
    collapses map-side to at most 4×1024 cells per task before its
    exchange, so the shuffle carries a FIXED-size summary no matter the
    event volume, and daily sketches merge by cell-wise sum (the same
    persisted-aggregate pattern as hll_persist_incremental). The audit
    side's exact top-k exists to measure the sketch and shuffles
    (user_id, count) scalars with a WindowGroupLimit rank; the 4096-row
    cell table broadcasts to the probe join."""
    t = load_tables(spark, sf_dir)
    d_col = F.explode(F.array(*[F.lit(d) for d in range(_CMS_D)])).alias("d")
    cells = (
        t.events.select("user_id")
        .select("user_id", d_col)
        .select("d", F.expr(_CMS_BUCKET_SPARK.format(d="d")).alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    truec = t.events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_true")
    )
    w = Window.orderBy(F.col("n_true").desc(), "user_id")
    top = (
        truec.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _CMS_K)
    )
    probes = top.select(
        "user_id",
        "n_true",
        "rk",
        F.explode(F.array(*[F.lit(d) for d in range(_CMS_D)])).alias("d"),
    ).withColumn("bucket", F.expr(_CMS_BUCKET_SPARK.format(d="d")))
    est = (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("user_id")
        .agg(F.min("n").alias("n_est"))
    )
    return (
        top.join(est, "user_id")
        .select(
            F.col("rk").cast("int").alias("rank"),
            "user_id",
            "n_true",
            F.col("n_est").cast("bigint").alias("n_est"),
            (F.col("n_est") == F.col("n_true")).alias("exact"),
        )
    )


# ----------------------------------------------------------- hll_register_sketch

# Own-register HLL (p=8, 256 buckets, 24-bit suffix): bucket = the top
# 8 bits of a 32-bit md5-derived hash, register = max over observations
# of rho (position of the suffix's leading 1-bit). Unlike the opaque
# Datasketches blobs hll_union_daily merges, these registers are PLAIN
# ROWS — exactly oracle-checkable (rho computes via bin()-string
# arithmetic, integer-exact on both engines), mergeable by per-bucket
# MAX across hours/partitions, and the scaled summand 2^(25 - r) lets
# downstream form the harmonic estimate without any FP inside the
# engine. The streaming half (stream_hll_tws) seals the same registers
# once per window.
_HLLR_P_BUCKETS = 256
_HLLR_SUFFIX_BITS = 24

_HLLR_RHO_DUCK = f"""
CASE WHEN sfx = 0 THEN {_HLLR_SUFFIX_BITS + 1}
     ELSE {_HLLR_SUFFIX_BITS} - (length(ltrim(bin(sfx), '0')) - 1) END
"""
_HLLR_RHO_SPARK = (
    f"CASE WHEN sfx = 0 THEN {_HLLR_SUFFIX_BITS + 1} "
    f"ELSE {_HLLR_SUFFIX_BITS} - (length(ltrim('0', bin(sfx))) - 1) END"
)

_HLLR_ORACLE = f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS window_start,
         CAST('0x' || substr(md5('hll_' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS h32
  FROM events
),
s AS (
  SELECT window_start, h32 // {1 << _HLLR_SUFFIX_BITS} AS bucket,
         h32 % {1 << _HLLR_SUFFIX_BITS} AS sfx
  FROM h
),
reg AS (
  SELECT window_start, bucket,
         CAST(MAX({_HLLR_RHO_DUCK}) AS BIGINT) AS r
  FROM s GROUP BY window_start, bucket
)
SELECT window_start, CAST(bucket AS BIGINT) AS bucket, r,
       CAST(1 AS BIGINT) << ({_HLLR_SUFFIX_BITS + 1} - r) AS w2
FROM reg
"""


@register("hll_register_sketch", oracle=_HLLR_ORACLE)
def hll_register_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour HyperLogLog registers as plain rows: bucket = top 8
    bits of the md5-derived hash, register = max leading-1 position of
    the 24-bit suffix, plus the integer summand 2^(25−r) downstream
    divides for the harmonic estimate — the transparent, row-shaped
    cousin of hll_union_daily's opaque Datasketches blobs. Hours merge
    by per-bucket MAX; days merge the same way; nothing in the engine
    touches floating point, so the sketch is exactly oracle-checkable
    (rho is bin()-string arithmetic, verified identical cross-engine).

    Scale shape: one pass, one partial-agg exchange of (hour, bucket,
    rho) rows that collapses map-side to ≤ 256 registers per (hour,
    task) — the fixed-size-summary property, same as events_cms_topk's
    cells; event volume only changes the scan cost."""
    t = load_tables(spark, sf_dir)
    h32 = F.expr(
        "cast(conv(substr(md5(concat('hll_', cast(user_id as string))), "
        "1, 8), 16, 10) as bigint)"
    )
    s = t.events.select(
        F.date_trunc("hour", "ts").alias("window_start"),
        (h32 / (1 << _HLLR_SUFFIX_BITS)).cast("bigint").alias("bucket"),
        (h32 % (1 << _HLLR_SUFFIX_BITS)).alias("sfx"),
    )
    reg = s.groupBy("window_start", "bucket").agg(
        F.expr(f"max({_HLLR_RHO_SPARK})").cast("bigint").alias("r")
    )
    return reg.select(
        "window_start",
        "bucket",
        "r",
        F.expr(f"shiftleft(cast(1 as bigint), {_HLLR_SUFFIX_BITS + 1} - r)")
        .alias("w2"),
    )


# ----------------------------------------------------------- log_histogram_sketch

# The quantile member of the row-shaped sketch family (events_cms_topk
# counts, hll_register_sketch distinct-counts): a DDSketch-style
# log-bucketed histogram with gamma = 2 — bucket = signed
# 1 + floor(log2(|cents|)), so any quantile reads back within a factor
# of 2 (exact relative-error contract of the log bucketing), buckets
# merge across hours/days by count SUM, and everything is integer
# (cents via ROUND(value·100), floor_log2 via bin()-string length —
# the same cross-engine-exact arithmetic hll_register_sketch uses).
_LOGH_CENTS_DUCK = "CAST(ROUND(value * 100, 0) AS BIGINT)"
_LOGH_CENTS_SPARK = "cast(round(value * 100, 0) as bigint)"

_LOGH_BUCKET_DUCK = """
CASE WHEN cents = 0 THEN 0
     WHEN cents > 0 THEN 1 + (length(ltrim(bin(cents), '0')) - 1)
     ELSE -(1 + (length(ltrim(bin(-cents), '0')) - 1)) END
"""
_LOGH_BUCKET_SPARK = (
    "CASE WHEN cents = 0 THEN 0 "
    "WHEN cents > 0 THEN 1 + (length(ltrim('0', bin(cents))) - 1) "
    "ELSE -(1 + (length(ltrim('0', bin(-cents))) - 1)) END"
)

_LOGH_ORACLE = f"""
WITH c AS (
  SELECT date_trunc('hour', ts) AS window_start,
         {_LOGH_CENTS_DUCK} AS cents
  FROM events
),
b AS (
  SELECT window_start, CAST({_LOGH_BUCKET_DUCK} AS BIGINT) AS bucket, cents
  FROM c
)
SELECT window_start, bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM b GROUP BY window_start, bucket
"""


@register("log_histogram_sketch", oracle=_LOGH_ORACLE)
def log_histogram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour log-bucketed value histogram — the quantile member of
    the row-shaped mergeable sketch trio (CMS counts, HLL registers,
    this): DDSketch-style buckets at γ = 2 (signed 1+⌊log₂|cents|⌋)
    give every quantile a ≤ 2× relative-error read-back, hours and
    days merge by plain count SUM, and the whole sketch is integer
    arithmetic (cents, bin()-string floor-log2) so it is exactly
    oracle-checkable. min/max cents per bucket ride along for exact
    tail reporting. Production tightens γ by scaling the bucket index
    arithmetic; the plan is unchanged.

    Scale shape: one pass, one partial-agg exchange collapsing
    map-side to ≤ (hours × ~100 buckets) rows — volume-independent
    like the other sketches; the 100 TB cost is the scan."""
    t = load_tables(spark, sf_dir)
    c = t.events.select(
        F.date_trunc("hour", "ts").alias("window_start"),
        F.expr(_LOGH_CENTS_SPARK).alias("cents"),
    )
    b = c.select(
        "window_start",
        F.expr(_LOGH_BUCKET_SPARK).cast("bigint").alias("bucket"),
        "cents",
    )
    return b.groupBy("window_start", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


def log_histogram_quantile(cells: DataFrame, q_ppm: int) -> DataFrame:
    """Distributed quantile READ-BACK from log_histogram_sketch cells:
    per window, walk buckets in value order until q ppm of the mass is
    covered and report that bucket's exact [min_cents, max_cents]
    envelope — the γ-bounded answer a sketch store serves without ever
    re-reading events. All-integer (q as parts-per-million,
    cross-multiplied cumulative compare), and distributed: the
    cumulative walk is a window over (window_start) ordered by bucket —
    per-window cell counts are ≤ ~100, so the partition is trivially
    bounded. Works identically on merged cells (SUM n, MIN/MAX cents
    across hours/days), which is the point of the row-shaped sketch."""
    w = (
        Window.partitionBy("window_start")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("window_start")
    cum = cells.select(
        "window_start",
        "bucket",
        "min_cents",
        "max_cents",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n").over(tot).alias("total_n"),
    )
    hit = cum.filter(
        F.col("cum_n") * 1_000_000 >= F.lit(q_ppm) * F.col("total_n")
    )
    pick = Window.partitionBy("window_start").orderBy("bucket")
    return (
        hit.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            "window_start",
            F.col("bucket").alias("q_bucket"),
            "min_cents",
            "max_cents",
        )
    )


# ------------------------------------------------------------ stream_asof_join

# identical contract to the batch twin: the stream must converge to
# batch asof_join's answer, so the same oracle checks both
STREAM_ASOF_ORACLE = _ASOF_ORACLE


@register("stream_asof_join", oracle=STREAM_ASOF_ORACLE)
def stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of ``asof_join``, driven end-to-end: events
    arrive as TWO time-split waves (everything at-or-before the
    mid-time first — the CDC/wave delivery order), and the custom
    stateful operator (``streaming.events.stream_asof``: dual
    transformWithStateInPandas / applyInPandasWithState impls, two
    scalars of state per user) attaches to every event the most recent
    click value at-or-before it. The final log must equal batch
    ``asof_join`` — the same oracle checks both, which is the
    exactly-incremental property; HALF the (event → its latest click)
    references cross the wave boundary, so persisted per-user state is
    genuinely load-bearing.

    Scale shape: one key shuffle per micro-batch (the groupBy feeding
    the stateful operator — the same single exchange the batch window
    pays), per-user state two scalars regardless of volume. Wave
    mtimes are pinned so the file source's (timestamp, path) order
    matches delivery order — the in-order-per-key contract
    ``stream_asof`` documents. Demo-harness caveats as
    stream_warc_ingest (driver tempdir, waves written at plan time)."""
    import os
    import shutil
    import tempfile

    from oil_wells_data_wrangling_spark.streaming.events import stream_asof

    t = load_tables(spark, sf_dir)
    ev = t.events.select("event_id", "user_id", "ts", "event_type", "value")
    row = ev.agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).collect()[0]  # 2 bounded scalars
    cutoff = row["mn"] + (row["mx"] - row["mn"]) / 2
    work = tempfile.mkdtemp(prefix="stream_asof_")
    src = os.path.join(work, "src")
    for i, wave in enumerate(
        (ev.filter(F.col("ts") <= F.lit(cutoff)),
         ev.filter(F.col("ts") > F.lit(cutoff)))
    ):
        d = os.path.join(src, f"wave{i}")
        wave.coalesce(1).write.parquet(d)
        for name in os.listdir(d):  # pin delivery order via mtime
            os.utime(os.path.join(d, name), (1_000_000 * (i + 1),) * 2)
    out_dir = os.path.join(work, "out")
    stream = (
        spark.readStream.schema(
            spark.read.parquet(os.path.join(src, "wave0")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "wave*"))
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        stream_asof(stream)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.read.parquet(out_dir).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return res
