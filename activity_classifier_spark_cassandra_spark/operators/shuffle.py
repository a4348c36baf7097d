"""Deterministic corpus shuffling — reproducible training order.

A training run needs every epoch's example order to be (a) uniformly
shuffled, (b) reproducible across reruns/engines (or the run isn't
debuggable), and (c) producible WITHOUT a single-node sort.  The
standard answer: give every row a keyed hash ``skey = h(id, epoch)``
and range-sort by it — new epoch seed ⇒ fresh independent permutation,
same seed ⇒ bit-identical order anywhere.

* ``shuffle_key`` — the md5-derived 60-bit key (shared recipe from
  ``sketches.py``), pure row-local expression.
* ``q_shuffle_sample`` — the oracle-checked slice: the first
  SHUFFLE_K documents of epoch 7's order.  Top-k by (skey, doc_id)
  runs as TakeOrderedAndProject (per-partition heaps, k-row driver
  merge), never a global sort; the skey column carries the ordering
  through the driver's sorted-row hash compare.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table
from .sketches import _hash60, _hash60_sql

SHUFFLE_EPOCH = 7
SHUFFLE_K = 40


def shuffle_key(id_col: Column, epoch: int) -> Column:
    """60-bit deterministic shuffle key for one epoch."""
    return _hash60(id_col, epoch)


def q_shuffle_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First SHUFFLE_K documents of epoch 7's deterministic order."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            shuffle_key(F.col("doc_id"), SHUFFLE_EPOCH).alias("skey"),
        )
        .orderBy("skey", "doc_id")
        .limit(SHUFFLE_K)
    )


SHUFFLE_SAMPLE_SQL = f"""
SELECT doc_id, source, {_hash60_sql("doc_id", SHUFFLE_EPOCH)} AS skey
FROM documents
ORDER BY skey, doc_id LIMIT {SHUFFLE_K}
"""
