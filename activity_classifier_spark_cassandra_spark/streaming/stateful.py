"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.12 extension scope): the escape hatch for streaming
semantics that ``session_window``/``window`` can't express — arbitrary
per-key state evolved across micro-batches in Arrow-batched pandas.

The demonstrator keeps per-(user_id, event_type) running totals
(n events, sum/min/max of value) and emits the updated row each
micro-batch.  State is a flat tuple per key in the state store —
partitioned by the grouping keys exactly like any keyed shuffle, so
1000 executors each own their key range; at 100 TB/day the state
size is bounded by key cardinality, not stream length.

Parity contract (pinned by tests/test_stateful.py): after draining a
bounded stream, the final emitted row per key equals the plain batch
``groupBy(keys).agg(...)`` on the same data.
"""

from __future__ import annotations

import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("min_v", T.DoubleType()),
        T.StructField("max_v", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("min_v", T.DoubleType()),
        T.StructField("max_v", T.DoubleType()),
    ]
)


def _update_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, total, mn, mx = state.get
    else:
        n, total, mn, mx = 0, 0.0, None, None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        total += float(pdf["value"].sum())
        bmn = float(pdf["value"].min())
        bmx = float(pdf["value"].max())
        mn = bmn if mn is None else min(mn, bmn)
        mx = bmx if mx is None else max(mx, bmx)
    state.update((n, total, mn, mx))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "event_type": [key[1]],
            "n": [n],
            "total": [total],
            "min_v": [mn],
            "max_v": [mx],
        }
    )


def stateful_running_totals(
    events: DataFrame,
) -> DataFrame:
    """Running per-key totals across micro-batches.  ``events`` must be
    a streaming frame with (user_id, event_type, value)."""
    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ----------------------------------------------------------- query
_SINK_SEQ = 0


def q_stream_stateful(spark, sf_dir: str) -> DataFrame:
    """The custom stateful operator driven end-to-end: stream the
    events table file-by-file (every parquet part is one micro-batch,
    so state genuinely evolves), drain with availableNow into a memory
    sink, and reduce update-mode emissions to the final state per key
    (the row with max n — running totals are monotone).  Oracle: the
    plain batch aggregate, which the converged state must equal."""
    from pyspark.sql import functions as F

    from ..sources.io import load_table

    cols = ["user_id", "event_type", "value"]
    batch = load_table(spark, sf_dir, "events").select(*cols)
    # The file stream source needs a directory; stage the (pruned)
    # frame into scratch as 4 part files so availableNow +
    # maxFilesPerTrigger=1 yields several micro-batches and the state
    # genuinely evolves across triggers.
    src = tempfile.mkdtemp(prefix="stateful_src_")
    batch.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    global _SINK_SEQ
    _SINK_SEQ += 1
    name = f"stateful_totals_sink_{_SINK_SEQ}"
    q = (
        stateful_running_totals(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy("user_id", "event_type")
        .agg(
            F.max("n").alias("n"),
            F.round(F.max_by("total", "n"), 2).alias("total"),
            F.max_by("min_v", "n").alias("min_v"),
            F.max_by("max_v", "n").alias("max_v"),
        )
    )


STREAM_STATEFUL_SQL = """
SELECT user_id, event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total,
       MIN(value) AS min_v,
       MAX(value) AS max_v
FROM events
GROUP BY user_id, event_type
"""
