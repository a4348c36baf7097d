"""File-level min/max manifest pruning — the data-skipping loop that
makes 100 TB interactive.

Partition-directory pruning (``layout.py`` motivates the write side)
only helps on the partition columns.  Lakehouse table formats go one
level deeper: a *manifest* of per-FILE column min/max stats lets the
planner drop whole files for predicates on any clustered column,
before a single row is read.  This module builds that loop with plain
DataFrame ops:

* ``write_time_clustered`` — one hash exchange on a derived
  time-bucket key, then a ``partitionBy`` write: each bucket lands in
  exactly one file, so per-file ts ranges are tight (stats are only as
  good as the clustering — same lesson as Z-order).
* ``build_manifest`` — per-file min/max/count via one scan grouped by
  ``input_file_name()``.  This is the amortized ANALYZE/OPTIMIZE pass:
  at 100 TB you run it once per ingest batch (or read parquet footers
  instead of data — pytest cross-checks our stats against the footers)
  and reuse the manifest across every subsequent query.
* the planner step in ``pruned_range_agg``: overlap the predicate interval
  with each file's [min, max] envelope.  The manifest is
  metadata-scale (one row per file), so collecting the surviving file
  list on the driver is exactly what real planners do with manifests.

The driver-checked query writes a clustered copy of ``events``, builds
the manifest, prunes to a middle-third time window, reads ONLY the
surviving files, and aggregates — hash-compared against a DuckDB
oracle running the plain filter on the original table.  Equality
proves the pruning is loss-free; pytest proves it actually skipped
files.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table, ts_ms

N_TIME_BUCKETS = 8


def write_time_clustered(
    ev: DataFrame,
    path: str,
    bounds: tuple[int, int] | None = None,
) -> None:
    """Write events clustered into ``N_TIME_BUCKETS`` time-range files.

    The bucket key is an order-preserving rescale of epoch-ms by the
    min/max bounds (integer DIV end-to-end), so bucket k holds a
    contiguous 1/n slice of the timeline — which is what makes the
    per-file min/max envelopes narrow and the manifest selective.
    Pass ``bounds=(lo_ms, hi_ms)`` when the caller already computed
    them; otherwise one tiny aggregate is broadcast against the scan.
    """
    ms = ts_ms(ev, "ts")
    if bounds is not None:
        lo, hi = bounds
        clustered = ev.withColumn("_ms", ms).withColumn(
            "file_bucket",
            F.expr(
                f"(_ms - {lo}L) * {N_TIME_BUCKETS} DIV ({hi}L - {lo}L + 1)"
            ),
        )
    else:
        agg = ev.select(ms.alias("_ms")).agg(
            F.min("_ms").alias("_lo"), F.max("_ms").alias("_hi")
        )
        clustered = (
            ev.withColumn("_ms", ms)
            .crossJoin(F.broadcast(agg))
            .withColumn(
                "file_bucket",
                F.expr(f"(_ms - _lo) * {N_TIME_BUCKETS} DIV (_hi - _lo + 1)"),
            )
            .drop("_lo", "_hi")
        )
    (
        clustered.drop("_ms")
        .repartition(N_TIME_BUCKETS, "file_bucket")
        .write.mode("overwrite")
        .partitionBy("file_bucket")
        .parquet(path)
    )


def build_manifest(spark: SparkSession, path: str) -> DataFrame:
    """(file, min_ms, max_ms, n_rows) per data file under ``path``."""
    df = spark.read.parquet(path)
    ms = ts_ms(df, "ts")
    return (
        df.select(F.input_file_name().alias("file"), ms.alias("_ms"))
        .groupBy("file")
        .agg(
            F.min("_ms").alias("min_ms"),
            F.max("_ms").alias("max_ms"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def pruned_range_agg(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int, int]:
    """(result, files_kept, files_total) for the middle-third window.

    Split out from the query entry so pytest can pin the pruning
    evidence (kept < total) that the hash-compared result can't carry.
    """
    ev = load_table(spark, sf_dir, "events")
    lo, hi = (
        ev.select(ts_ms(ev, "ts").alias("_ms"))
        .agg(F.min("_ms"), F.max("_ms"))
        .first()
    )
    a = lo + (hi - lo) * 3 // 8
    b = lo + (hi - lo) * 6 // 8

    out = os.path.join(
        tempfile.gettempdir(),
        "acsc_manifest_prune",
        f"{os.path.basename(sf_dir.rstrip('/')) or 'sf'}-{uuid.uuid4().hex}",
    )
    write_time_clustered(ev, out, bounds=(lo, hi))
    # ONE manifest scan: collect the metadata-scale table once, then
    # both the total and the overlap prune are plain Python over it
    mrows = build_manifest(spark, out).collect()
    total = len(mrows)
    kept = [r["file"] for r in mrows if r["max_ms"] >= a and r["min_ms"] < b]

    # an empty prune (no file overlaps [a, b)) must return an empty
    # result, not crash on a zero-path read — fall back to the full
    # directory; the exact filter below yields the same zero rows
    pruned = spark.read.parquet(*kept) if kept else spark.read.parquet(out)
    ms = ts_ms(pruned, "ts")
    result = (
        pruned.filter((ms >= a) & (ms < b))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_value"),
        )
        # materialize now so the temp clustered copy can be deleted
        # before the caller ever consumes the frame
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out, ignore_errors=True)
    return result, len(kept), total


def q_file_prune_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pruned middle-third rollup of ``events``."""
    result, _, _ = pruned_range_agg(spark, sf_dir)
    return result


FILE_PRUNE_MANIFEST_SQL = """
WITH bounds AS (
  SELECT MIN(epoch_ms(ts)) AS lo, MAX(epoch_ms(ts)) AS hi FROM events
),
win AS (
  SELECT lo + (hi - lo) * 3 // 8 AS a, lo + (hi - lo) * 6 // 8 AS b
  FROM bounds
)
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS sum_value
FROM events, win
WHERE epoch_ms(ts) >= a AND epoch_ms(ts) < b
GROUP BY event_type
"""
