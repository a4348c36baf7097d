"""Streaming sessionization + windowed feature aggregation.

The batch engine sessionizes with lag + running sum
(operators/sessions.py) — an ordered window function, which Structured
Streaming cannot express incrementally.  The streaming-native
equivalent is ``F.session_window(ts, gap)``: state-store-backed gap
sessions that merge as events arrive and close when the watermark
passes session_end + gap.  Tumbling windows map to ``F.window``.

Feature parity: streaming aggregations must be algebraic (mergeable
partial state), so the streamed feature set is the subset of
operators/features.py that needs no ordered window:
n_samples / mean / var_samp / min / max / resultant.  The two-pass
mean-abs-deviation and the peak-delta feature (A6, A8) require a
second pass over the closed window — compute them downstream on the
sink table, or in ``foreachBatch`` where each micro-batch is a normal
batch DataFrame.

Scale notes: state is partitioned by the grouping keys exactly like
the batch shuffle; the watermark bounds state size (late rows beyond
it are dropped), which is what makes 100 TB/day streams feasible.

Reference has no streaming at all (batch Spark 1.3); this is the
north-star extension promised in SURVEY.md §2.12.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table
from .dedup import with_event_time

_KEYS = ("user_id", "event_type")


def _feature_aggs() -> list[Column]:
    """Feature aggregates from EXACT decimal partials.

    ``value`` carries ≤6 decimal places, so DECIMAL(18,6) sums are
    exact and merge-order-independent; every float feature is then a
    fixed scalar sequence of IEEE double ops on those exact sums —
    bit-identical in Spark and the DuckDB oracle.  The first version
    used ``F.var_samp`` directly: its one-pass partial merges are
    order-dependent in the last ulps, which survived ROUND(..,6) at
    sf0.01 but flipped a rounding boundary in one sf0.1 session
    (caught by the full-registry sf0.1 sweep, round 5).  Algebraic
    sums — unlike a two-pass centered variance — stay streamable:
    they are plain aggregates over one grouping pass."""
    v = F.col("value")
    vd = v.cast("decimal(18,6)")
    n = F.count(F.lit(1))
    nd = n.cast("double")
    sv = F.sum(vd).cast("double")
    sv2 = F.sum(vd * vd).cast("double")
    sabs = F.sum(F.abs(vd)).cast("double")
    return [
        n.alias("n_samples"),
        (sv / nd).alias("mean_v"),
        # unbiased sample variance: (n·Σv² − (Σv)²) / (n·(n−1));
        # NULL for single-sample groups, matching var_samp
        (
            (sv2 * nd - sv * sv)
            / F.nullif(nd * (nd - F.lit(1.0)), F.lit(0.0))
        ).alias("var_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        # single-axis resultant = mean magnitude (ExtractFeature.java:70-82);
        # |v| == sqrt(v²) exactly, and abs keeps the decimal sum exact
        (sabs / nd).alias("resultant"),
    ]


#: the same features as one oracle-SQL fragment (DuckDB dialect),
#: shared by the three window-shape oracles below so the Spark and
#: oracle formulas can never drift apart
_VD = "CAST(value AS DECIMAL(18,6))"
_FEATURE_AGGS_SQL = f"""
  COUNT(*) AS n_samples,
  ROUND(CAST(SUM({_VD}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
    AS mean_v,
  ROUND((CAST(SUM({_VD} * {_VD}) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
         - CAST(SUM({_VD}) AS DOUBLE) * CAST(SUM({_VD}) AS DOUBLE))
        / NULLIF(CAST(COUNT(*) AS DOUBLE)
                 * (CAST(COUNT(*) AS DOUBLE) - 1), 0), 6) AS var_v,
  MIN(value) AS min_v,
  MAX(value) AS max_v,
  ROUND(CAST(SUM(ABS({_VD})) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
    AS resultant"""


#: the streamed feature columns, for sinks/tests
STREAM_FEATURE_AGGS = [
    "n_samples",
    "mean_v",
    "var_v",
    "min_v",
    "max_v",
    "resultant",
]


#: metric names emitted by the arrival audit, for sinks/tests
AUDIT_METRICS = ("n_input", "n_nonnull_ts", "min_event_time", "max_event_time")


def _with_arrival_audit(d: DataFrame, name: str) -> DataFrame:
    """Late-data audit via ``DataFrame.observe``: per micro-batch,
    count every row that ARRIVED (before the stateful operator decides
    lateness) plus the batch's event-time span.  Watermark-relative
    lateness itself is decided inside the stateful aggregation, which
    reports it as ``stateOperators[].numRowsDroppedByWatermark`` in the
    query progress; pairing that drop counter with these arrival
    metrics gives the full audit — observed n_input = kept + dropped —
    with zero extra passes over the stream (observe piggybacks on the
    existing scan).  Read via ``query.lastProgress["observedMetrics"]
    [name]``."""
    return d.observe(
        name,
        F.count(F.lit(1)).alias("n_input"),
        F.count("event_time").alias("n_nonnull_ts"),
        F.min("event_time").alias("min_event_time"),
        F.max("event_time").alias("max_event_time"),
    )


def session_stream_features(events: DataFrame) -> DataFrame:
    """W1-W3 streaming analogue: per-(user_id, event_type, 36 h
    gap-session) features.

    Works on both streaming and batch frames (``session_window`` is
    valid in batch too, which is how tests pin stream/batch parity).
    """
    d = with_event_time(events)
    if events.isStreaming:
        d = d.withWatermark("event_time", "48 hours")
    return (
        d.groupBy(
            *_KEYS,
            F.session_window("event_time", "36 hours").alias("session"),
        )
        .agg(*_feature_aggs())
        .select(
            *_KEYS,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            *STREAM_FEATURE_AGGS,
        )
    )


def windowed_stream_features(
    events: DataFrame,
    window: str = "24 hours",
    watermark: str = "48 hours",
    audit_name: str | None = None,
) -> DataFrame:
    """W4-W5 streaming analogue: tumbling-window features with
    late-data handling.  Batch-compatible for parity testing.
    ``audit_name`` attaches the observe-based arrival audit."""
    d = with_event_time(events)
    if events.isStreaming:
        d = d.withWatermark("event_time", watermark)
    if audit_name:
        d = _with_arrival_audit(d, audit_name)
    return (
        d.groupBy(*_KEYS, F.window("event_time", window).alias("win"))
        .agg(*_feature_aggs())
        .select(
            *_KEYS,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *STREAM_FEATURE_AGGS,
        )
    )


# ---------------------------------------------------------------- driver
# ``session_window`` / ``window`` are valid in batch too, so the same
# operator code is registered with the driver (batch mode) under a
# DuckDB oracle — the streaming path shares every expression below with
# its watermarked variant; only the watermark node differs.

_GAP_US = 36 * 3_600_000_000  # 36 h in microseconds
_WIN_US = 24 * 3_600_000_000  # 24 h in microseconds


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )


def q_stream_session_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The streaming session operator, batch-executed for the oracle."""
    out = session_stream_features(_events(spark, sf_dir))
    # epoch-ms longs, not timestamps: tz-proof under any driver session
    return out.select(
        "user_id",
        "event_type",
        F.unix_millis("session_start").alias("session_start_ms"),
        F.unix_millis("session_end").alias("session_end_ms"),
        "n_samples",
        F.round("mean_v", 6).alias("mean_v"),
        F.round("var_v", 6).alias("var_v"),
        "min_v",
        "max_v",
        F.round("resultant", 6).alias("resultant"),
    )


# session_window semantics: windows [t, t+gap) merge while overlapping,
# so a new session starts where delta >= gap (NOT the lag-sessionizer's
# strict >); merged session_end = max(event_time) + gap.
STREAM_SESSION_FEATURES_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_type, value, ts AS event_time,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
           (PARTITION BY user_id, event_type ORDER BY ts) >= {_GAP_US}
         THEN 1 ELSE 0 END AS is_new
  FROM events
), sess AS (
  SELECT *,
    SUM(is_new) OVER (PARTITION BY user_id, event_type ORDER BY event_time
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, event_type,
  epoch_ms(MIN(event_time)) AS session_start_ms,
  epoch_ms(MAX(event_time) + INTERVAL 36 HOUR) AS session_end_ms,
{_FEATURE_AGGS_SQL}
FROM sess GROUP BY user_id, event_type, sid
"""


def q_stream_windowed_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The streaming tumbling-window operator, batch-executed."""
    out = windowed_stream_features(_events(spark, sf_dir))
    return out.select(
        "user_id",
        "event_type",
        F.unix_millis("window_start").alias("window_start_ms"),
        F.unix_millis("window_end").alias("window_end_ms"),
        "n_samples",
        F.round("mean_v", 6).alias("mean_v"),
        F.round("var_v", 6).alias("var_v"),
        "min_v",
        "max_v",
        F.round("resultant", 6).alias("resultant"),
    )


# F.window tumbling windows are epoch-aligned (1970-01-01 UTC origin).
STREAM_WINDOWED_FEATURES_SQL = f"""
SELECT user_id, event_type,
  (epoch_us(ts) // {_WIN_US}) * {_WIN_US} // 1000 AS window_start_ms,
  ((epoch_us(ts) // {_WIN_US}) * {_WIN_US} + {_WIN_US}) // 1000
    AS window_end_ms,
{_FEATURE_AGGS_SQL}
FROM events
GROUP BY 1, 2, 3, 4
"""


def sliding_stream_features(events: DataFrame) -> DataFrame:
    """Sliding-window features — the third window shape next to
    tumbling (``windowed_stream_features``) and gap-session
    (``session_stream_features``).  Each event lands in window/slide
    overlapping windows (2 here), which is the monitoring shape for
    "rolling 24 h metrics refreshed every 12 h".  State cost scales by
    the same factor; the watermark still bounds it.  Batch-compatible
    for parity testing, like the other two."""
    d = with_event_time(events)
    if events.isStreaming:
        d = d.withWatermark("event_time", "48 hours")
    return (
        d.groupBy(
            *_KEYS,
            F.window("event_time", "24 hours", "12 hours").alias("win"),
        )
        .agg(*_feature_aggs())
        .select(
            *_KEYS,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *STREAM_FEATURE_AGGS,
        )
    )


_SLIDE_US = 12 * 3_600_000_000  # 12 h in microseconds


def q_stream_sliding_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The sliding-window operator, batch-executed for the oracle."""
    out = sliding_stream_features(_events(spark, sf_dir))
    return out.select(
        "user_id",
        "event_type",
        F.unix_millis("window_start").alias("window_start_ms"),
        F.unix_millis("window_end").alias("window_end_ms"),
        "n_samples",
        F.round("mean_v", 6).alias("mean_v"),
        F.round("var_v", 6).alias("var_v"),
        "min_v",
        "max_v",
        F.round("resultant", 6).alias("resultant"),
    )


# Spark assigns an event at t to every epoch-aligned slide-multiple
# window start in (t - W, t]; with W = 2*S that is exactly the two
# starts floor(t/S)*S and floor(t/S)*S - S, which the oracle explodes
# directly (k in {0, 1}).
STREAM_SLIDING_FEATURES_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events
), expl AS (
  SELECT *, (us // {_SLIDE_US}) * {_SLIDE_US} - k * {_SLIDE_US}
    AS win_start_us
  FROM ev, UNNEST([0, 1]) AS u(k)
)
SELECT user_id, event_type,
  win_start_us // 1000 AS window_start_ms,
  (win_start_us + {_WIN_US}) // 1000 AS window_end_ms,
{_FEATURE_AGGS_SQL}
FROM expl GROUP BY 1, 2, 3, 4
"""
