"""Tumbling-window assignment (reference operator W4, SURVEY.md §2.5).

The reference slices each session into fixed windows by running one
range-filter Spark job per window index from a driver loop
(job/RecognizeActivity.java:80-119, bounds at :243-247).  Its bounds
are **exclusive on both ends** (samples exactly on a window boundary
are dropped) and the loop runs one fence-post extra window
(``j <= interval[2]`` at :82).

Spark-first: a single ``floor((ts - session_start) / W)`` bucket
column — one pass, no driver loop.  Divergence from the reference is
confined to boundary rows: floor-bucketing assigns a sample at
``start + j*W`` to window j instead of dropping it.  The fixtures in
tests/ pin this documented divergence; ``drop_boundary_rows=True``
restores exact parity when needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import WINDOW_TICKS


def with_window_id(
    df_with_sessions: DataFrame,
    keys: Sequence[str],
    ts_col: str = "timestamp",
    window_ticks: int = WINDOW_TICKS,
    drop_boundary_rows: bool = False,
) -> DataFrame:
    """Add ``window_id = floor((ts - session_start) / W)`` within each
    (keys..., session_id) group.

    ``session_start`` is a windowed min over the session partition —
    no extra shuffle: the upstream sessionization already hash-
    partitioned on `keys`, which satisfies the clustering required
    here (session_id is a function of rows within a key partition).
    """
    part = Window.partitionBy(*keys, "session_id")
    start = F.min(ts_col).over(part)
    out = df_with_sessions.withColumn("session_start", start).withColumn(
        "window_id",
        F.floor((F.col(ts_col) - F.col("session_start")) / F.lit(window_ticks)),
    )
    if drop_boundary_rows:
        # Exact reference parity: both bounds exclusive
        # (job/RecognizeActivity.java:244-246) drops samples landing
        # precisely on start + j*W for j >= 1, and the session's first
        # sample (== start + 0*W, also excluded by `ts > start`).
        offset = F.col(ts_col) - F.col("session_start")
        out = out.filter(offset % F.lit(window_ticks) != 0)
    return out
