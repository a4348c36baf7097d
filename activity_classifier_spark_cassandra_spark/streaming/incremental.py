"""Streaming materialized-view maintenance: keep the day-grain
algebraic state of operators/incremental.py current as micro-batches
arrive, via ``foreachBatch``.

Each micro-batch is reduced to its (user, day) partial-aggregate state
— counts, DECIMAL sums, min/max — and merged into the standing state
table by union + re-aggregation, the same algebra the batch merge
uses, so the maintained view converges to exactly the full recompute
(pytest-pinned).  Merge cost per trigger is O(|batch state| + |view|),
never O(history); the events themselves are touched once.

Sink caveat (documented, not hidden): the state swap (``swap_in``, also
used by streaming/ann_index.py) is write-new / rename-aside /
rename-in / drop-aside, so a crash at any point leaves either the old
or the new state recoverable (``recover_state`` adopts a dangling
``.old`` before the next read) — but it is still a single-writer
filesystem protocol.  At production scale the state
table should live in a transactional table format (Delta / Iceberg
MERGE INTO) so that an at-least-once retry of a micro-batch cannot
double-apply its partials; the merge ALGEBRA is identical.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame

from ..operators.incremental import daily_state


def merge_day_states(*states: DataFrame) -> DataFrame:
    """Union day-grain states and re-aggregate back to (user, day)
    grain — every column is a commutative monoid, so any grouping of
    batches converges to the same state."""
    st = states[0]
    for s in states[1:]:
        st = st.unionByName(s)
    from pyspark.sql import functions as F

    return st.groupBy("user_id", "day").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_v").alias("sum_v"),
        F.sum("sum_v2").alias("sum_v2"),
        F.min("min_ms").alias("min_ms"),
        F.max("max_ms").alias("max_ms"),
    )


def recover_state(path: str) -> None:
    """Crash recovery for ``swap_in``; call it before reading ``path``.

    A kill between the swap's two renames leaves only ``.old`` — adopt
    it.  A kill after the second rename leaves a stale ``.old`` next
    to a live state — drop it."""
    p, prev = Path(path), Path(f"{path}.old")
    if not p.exists() and prev.exists():
        shutil.move(str(prev), path)
    elif prev.exists():
        shutil.rmtree(str(prev))


def swap_in(df: DataFrame, path: str) -> None:
    """Replace the parquet table at ``path`` with ``df``:
    write-new / rename-aside / rename-in / drop-aside.  At no point is
    the standing state deleted before its replacement exists, so a
    crash anywhere leaves a state ``recover_state`` can restore."""
    p, prev, tmp = Path(path), Path(f"{path}.old"), f"{path}.new"
    df.write.mode("overwrite").parquet(tmp)
    if p.exists():
        shutil.move(path, str(prev))
    shutil.move(tmp, path)
    if prev.exists():
        shutil.rmtree(str(prev))


def foreach_batch_state_updater(state_path: str):
    """A ``foreachBatch`` function maintaining the parquet state table
    at ``state_path``: reduce the micro-batch to day-grain partials,
    merge with the standing state, swap the new state in."""

    def _update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_state(state_path)
        new = daily_state(batch_df)
        if Path(state_path).exists():
            old = spark.read.parquet(state_path)
            merged = merge_day_states(old, new)
        else:
            merged = new
        swap_in(merged, state_path)

    return _update


def stream_maintain_daily_state(
    stream_events: DataFrame, state_path: str, checkpoint: str
):
    """Start the maintenance stream (caller picks the trigger by
    chaining ``.trigger(...)`` before ``.start()`` is not possible on
    the returned handle — this starts availableNow for drain-the-
    source semantics; long-running pipelines would use a processing-
    time trigger with the same foreachBatch)."""
    return (
        stream_events.writeStream.foreachBatch(
            foreach_batch_state_updater(state_path)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
