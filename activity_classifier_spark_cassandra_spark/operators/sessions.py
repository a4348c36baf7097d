"""Sessionization (reference operators W1-W3, SURVEY.md §2.5).

The reference computes adjacent timestamp deltas by zipping two shifted
copies of a sorted single-partition RDD (data/PrepareData.java:17-25),
flags a new recording session where delta > gap
(data/PrepareData.java:27-31, gap = Constants.jump = 300 000), then
assembles [start, end, n_windows] interval triples **on the driver**
(data/PrepareData.java:34-56).

Spark-first: one window spec partitioned by the series keys —
``lag`` for the delta, a cumulative sum of the gap flag for the session
id — and a grouped min/max for the bounds.  Everything stays
distributed; the shuffle is a single hash exchange on the series keys,
and the same exchange is reused by every downstream per-session /
per-window aggregation (their grouping keys are supersets).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..constants import SESSION_GAP_TICKS, WINDOW_TICKS


def with_session_id(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "timestamp",
    gap: int = SESSION_GAP_TICKS,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Add a 0-based ``session_id`` per `keys` series.

    A new session starts where ts - lag(ts) > gap (strict >, matching
    data/PrepareData.java:29).  The first row of a series has a null
    lag, which the CASE's ELSE maps to 0 — exactly the reference's
    "first element is trimmed before zip" behavior
    (data/PrepareData.java:19-20).
    """
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    is_new: Column = F.when(
        F.col(ts_col) - F.lag(ts_col).over(w) > F.lit(gap), F.lit(1)
    ).otherwise(F.lit(0))
    running = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_id", F.sum(is_new).over(running))


def session_bounds(
    df_with_sessions: DataFrame,
    keys: Sequence[str],
    ts_col: str = "timestamp",
    window_ticks: int = WINDOW_TICKS,
) -> DataFrame:
    """Per-session [start, end, n_rows, n_windows] — the distributed
    replacement for the driver-side interval list of
    data/PrepareData.java:34-56.

    ``n_windows = (end - start) / W`` with Java **long division**: the
    reference wraps it in Math.round (data/PrepareData.java:44-52) but
    the operand is already integral, so the round is a no-op and the
    semantics are floor.  0-window sessions are emitted (see
    FIXTURES.md §4: the reference code emits them even though its stale
    test asserts otherwise).
    """
    return df_with_sessions.groupBy(*keys, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_rows"),
        F.floor((F.max(ts_col) - F.min(ts_col)) / F.lit(window_ticks))
        .cast("long")
        .alias("n_windows"),
    )


def with_session_id_bucketed(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "timestamp",
    gap: int = SESSION_GAP_TICKS,
    tiebreak: Sequence[str] = (),
    bucket_ticks: int | None = None,
    broadcast_meta: bool = False,
) -> DataFrame:
    """Skew-resistant sessionizer: bit-identical ``session_id`` to
    ``with_session_id``, with per-task state bounded by ONE TIME BUCKET
    of one key instead of a key's full history.

    Motivation (BASELINE.md round-6 probe): a hot (user_id, event_type)
    key holding >=20% of a 10M-row table put 2M rows into a single
    sort task of the plain lag window — 2.7x wall.  Ordered
    sessionization cannot be salted (the lag chain must see every
    previous row), but it CAN be time-chunked, because the running sum
    decomposes over buckets:

      1. bucket = floor(ts / B); the lag + running-sum window runs
         per (keys, bucket) — the hot key spreads over #buckets tasks.
      2. one tiny row per (keys, bucket) — (min_ts, max_ts, n_new) —
         is aggregated from the SAME shuffled partitions.
      3. on that metadata frame, a per-key lag over bucket order
         decides whether each bucket's first row opens a new session
         (min_ts - prev bucket max_ts > gap; empty buckets simply
         don't appear), and a prefix sum of per-bucket new-session
         counts gives each bucket's session-id offset.
      4. rows join the metadata back on (keys, bucket):
         session_id = offset + boundary_flag + local running sum.

    Equality with the plain window is exact: within a bucket the local
    lag sees the true previous row (equal timestamps share a bucket,
    so tiebreak order is preserved); across buckets the previous row
    in (ts, tiebreak) order is the last row of the previous non-empty
    bucket, whose ts is that bucket's max — exactly what step 3
    compares.  Pinned by tests/test_sessions.py.

    USE THIS ONLY FOR HOT KEYS (see ``sessionize_skew_hybrid``): the
    metadata frame is one row per non-empty (key, bucket), which is
    data-proportional over MANY sparse keys but truly tiny for a few
    hot ones.  Routing an entire sparse-key table through here was
    measured 4-10x slower than the plain window at 100x probe scale —
    whether the metadata join was broadcast (multi-M-row broadcast) or
    sort-merge (second full shuffle + sorts).  ``broadcast_meta=True``
    is correct exactly when the caller has pre-filtered to hot keys.
    Default B = gap: no session fits inside a bucket boundary "for
    free", and per-task rows are bounded by one gap-length of one
    key's densest traffic.
    """
    if bucket_ticks is None:
        bucket_ticks = gap
    d = df.withColumn(
        "_bkt", F.floor(F.col(ts_col) / F.lit(bucket_ticks)).cast("long")
    )
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak]
    wb = Window.partitionBy(*keys, "_bkt").orderBy(*order)
    local_new: Column = F.when(
        F.col(ts_col) - F.lag(ts_col).over(wb) > F.lit(gap), F.lit(1)
    ).otherwise(F.lit(0))
    d = d.withColumn(
        "_local_run",
        F.sum(local_new).over(
            wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    stats = d.groupBy(*keys, "_bkt").agg(
        F.min(ts_col).alias("_min_ts"),
        F.max(ts_col).alias("_max_ts"),
        F.max("_local_run").alias("_n_new_local"),
    )
    wk = Window.partitionBy(*keys).orderBy("_bkt")
    stats = (
        stats.withColumn(
            "_bnew",
            F.when(
                F.col("_min_ts") - F.lag("_max_ts").over(wk) > F.lit(gap),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum(F.col("_bnew") + F.col("_n_new_local")).over(
                    wk.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(*keys, "_bkt", "_bnew", "_offset")
    )
    if broadcast_meta:
        stats = F.broadcast(stats)
    return (
        d.join(stats, [*keys, "_bkt"])
        .withColumn(
            "session_id",
            F.col("_offset") + F.col("_bnew") + F.col("_local_run"),
        )
        .drop("_bkt", "_local_run", "_bnew", "_offset")
    )


def session_starts_joined(
    df_with_sessions: DataFrame,
    keys: Sequence[str],
    ts_col: str = "timestamp",
    broadcast_meta: bool = False,
) -> DataFrame:
    """``session_start`` via partial-agg + join instead of a
    min-over-partition window — the skew-safe companion to
    ``with_session_id_bucketed``: a windowed min over (keys, session)
    re-sorts a hot key's giant single session in one task, while a
    groupBy min collapses it map-side.  Same hot-keys-only caveat as
    the bucketed sessionizer: per-session rows are data-proportional
    over a whole sparse table, tiny for a few hot keys —
    ``broadcast_meta=True`` only in the latter case."""
    starts = df_with_sessions.groupBy(*keys, "session_id").agg(
        F.min(ts_col).alias("session_start")
    )
    if broadcast_meta:
        starts = F.broadcast(starts)
    return df_with_sessions.join(starts, [*keys, "session_id"])


def hot_keys(
    df: DataFrame, keys: Sequence[str], min_rows: int
) -> DataFrame:
    """Tiny frame of key tuples holding more than ``min_rows`` rows —
    the detection half of skew handling.  The count is a combinable
    aggregate (map-side partial collapses the hot key before the
    shuffle), so detection itself is skew-immune; output is one row
    per DISTINCT key, metadata-scale by definition."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > min_rows)
        .select(*keys)
    )


def hot_keys_adaptive(
    df: DataFrame,
    keys: Sequence[str],
    min_rows: int = 13,
    frac_denom: int = 1000,
) -> DataFrame:
    """``hot_keys`` with a threshold that scales with the table —
    max(min_rows, total_rows // frac_denom) — WITHOUT an eager driver
    count: the total is folded into the detection job itself.  The
    per-key counts are computed once (one combinable scan of ``df``);
    the global sum is a window over the already-tiny counts frame (one
    row per distinct key — metadata-scale by definition), so the only
    extra cost vs ``hot_keys`` is one exchange of that metadata frame.
    The whole thing stays lazy: building the plan triggers zero Spark
    jobs (pinned by tests/test_sessions.py)."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    # single-partition window over the counts frame, NOT over df: the
    # frame is distinct-keys-scale, and this avoids a second scan of
    # df that a separate agg + crossJoin would cost
    total = F.sum("_n").over(Window.partitionBy(F.lit(1)))
    thresh = F.greatest(
        F.lit(min_rows).cast("long"),
        (total / F.lit(frac_denom)).cast("long"),
    )
    return (
        counts.withColumn("_thresh", thresh)
        .filter(F.col("_n") > F.col("_thresh"))
        .select(*keys)
    )


def sessionize_skew_hybrid(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "timestamp",
    gap: int = SESSION_GAP_TICKS,
    tiebreak: Sequence[str] = (),
    window_ticks: int = WINDOW_TICKS,
    hot_min_rows: int = 1_000_000,
    hot_keys_frame: DataFrame | None = None,
) -> DataFrame:
    """Sessionize + window-assign with AQE-skew-join-style hot-key
    routing: detect keys above ``hot_min_rows``, run ONLY those through
    the time-bucketed sessionizer + broadcast-metadata start join
    (bounded tasks, genuinely tiny broadcasts), run everything else
    through the plain single-exchange window path, and union.  Output
    columns: input + session_id, session_start, window_id — bit-equal
    to with_session_id + with_window_id on the whole frame (sessions
    are per-key, so per-key routing cannot change them; pinned by
    tests/test_sessions.py).

    Why hybrid instead of bucketing everything: measured at the
    round-6 100x probe (BASELINE.md), whole-table bucketing loses
    4-10x — its per-(key,bucket)/per-session metadata is
    data-proportional across millions of sparse keys, so the join back
    is either a multi-million-row broadcast or a second full shuffle.
    Restricted to detected hot keys the metadata IS metadata-scale,
    every metadata join is a map-side broadcast, and the cold 99% of
    the data keeps the plain one-exchange plan.  ``hot_min_rows`` is
    the production knob: set it near what one task can sort
    comfortably (default 1M rows).

    Cost vs the plain path: one extra combinable count scan for
    detection + one broadcast of the hot-key list into both branch
    filters; the big data still shuffles exactly once per branch.
    """
    if hot_keys_frame is None:
        hot_keys_frame = hot_keys(df, keys, hot_min_rows)
    hk = F.broadcast(hot_keys_frame)
    cold = df.join(hk, list(keys), "left_anti")
    hot = df.join(hk, list(keys), "left_semi")

    cold_s = with_session_id(
        cold, keys, ts_col=ts_col, gap=gap, tiebreak=tiebreak
    )
    part = Window.partitionBy(*keys, "session_id")
    cold_w = cold_s.withColumn(
        "session_start", F.min(ts_col).over(part)
    )

    hot_s = with_session_id_bucketed(
        hot,
        keys,
        ts_col=ts_col,
        gap=gap,
        tiebreak=tiebreak,
        broadcast_meta=True,
    )
    hot_w = session_starts_joined(
        hot_s, keys, ts_col=ts_col, broadcast_meta=True
    )

    out = cold_w.unionByName(hot_w)
    return out.withColumn(
        "window_id",
        F.floor(
            (F.col(ts_col) - F.col("session_start")) / F.lit(window_ticks)
        ),
    )
