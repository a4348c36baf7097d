"""Deterministic sampling (operators/sampling.py): the properties that
make it trustworthy at scale — stability under re-partitioning, whole-
entity holdout, and approximate rate — plus oracle parity at sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from activity_classifier_spark_cassandra_spark.operators.sampling import (
    deterministic_sample,
    pct_threshold,
    train_test_split,
)
from activity_classifier_spark_cassandra_spark.sources.io import load_table
from conftest import assert_same_rows, duckdb_frame

SF_DIR = "/root/testdata/sf0.001"


def test_sample_stable_under_repartition(spark):
    """The sampled key set must be a pure function of the key — identical
    before and after an arbitrary repartition (rand()-based sampling
    fails this)."""
    orders = load_table(spark, SF_DIR, "orders")
    a = deterministic_sample(orders, F.col("o_orderkey"), 10.0)
    b = deterministic_sample(
        orders.repartition(13, "o_custkey"), F.col("o_orderkey"), 10.0
    )
    keys_a = {r[0] for r in a.select("o_orderkey").collect()}
    keys_b = {r[0] for r in b.select("o_orderkey").collect()}
    assert keys_a == keys_b and len(keys_a) > 0


def test_split_is_partition_of_input(spark):
    """Every row gets exactly one side; no row is dropped or duplicated."""
    ev = load_table(spark, SF_DIR, "events")
    split = train_test_split(ev, F.col("event_id"), test_pct=40.0)
    n = ev.count()
    by_side = dict(
        split.groupBy("split").count().rdd.map(tuple).collect()
    )
    assert set(by_side) == {"train", "test"}
    assert by_side["train"] + by_side["test"] == n
    # uniform digest => rate within a few points of 40% even at sf0.001
    assert 0.30 < by_side["test"] / n < 0.50


def test_user_holdout_keeps_whole_users(spark):
    """Entity-level holdout: the held-out event set must contain every
    event of each sampled user — no user straddles the boundary."""
    ev = load_table(spark, SF_DIR, "events")
    held = deterministic_sample(ev, F.col("user_id"), 20.0)
    held_counts = held.groupBy("user_id").count()
    all_counts = ev.groupBy("user_id").count()
    j = held_counts.alias("h").join(
        all_counts.alias("a"), "user_id"
    ).filter(F.col("h.count") != F.col("a.count"))
    assert j.count() == 0 and held_counts.count() > 0


def test_pct_threshold_rejects_degenerate():
    for bad in (0.0, 100.0, -5.0, 120.0):
        with pytest.raises(ValueError):
            pct_threshold(bad)


@pytest.mark.parametrize(
    "name",
    ["q_sample_hash", "q_train_test_split", "q_user_holdout",
     "q_stratified_sample"],
)
def test_matches_duckdb_oracle(spark, name):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duckdb_frame(entrymod.oracle_sql()[name], SF_DIR)
    assert_same_rows(sdf, odf, rtol=1e-9, atol=1e-9)


def test_sample_and_complement_partition_the_keyspace(spark):
    """pct and (100-pct) thresholds split keys into disjoint sets whose
    union is the whole table — no key is lost or double-counted."""
    orders = load_table(spark, SF_DIR, "orders")
    kept = deterministic_sample(orders, F.col("o_orderkey"), 30.0)
    dropped = orders.filter(
        ~(F.md5(F.col("o_orderkey").cast("string")) < pct_threshold(30.0))
    )
    n, k, d = orders.count(), kept.count(), dropped.count()
    assert k + d == n
    assert kept.join(dropped, "o_orderkey").count() == 0


def test_group_topk_bounds_every_group(spark):
    """Exactly min(k, group size) rows per group, stable under
    repartitioning (md5 order is data-derived, not partition-derived)."""
    from pyspark.sql import functions as F

    from activity_classifier_spark_cassandra_spark.operators.sampling import (
        group_topk_sample,
    )
    from activity_classifier_spark_cassandra_spark.sources.io import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    k = 3
    kept = group_topk_sample(ev, ["user_id", "event_type"], F.col("event_id"), k)
    sizes = kept.groupBy("user_id", "event_type").count()
    assert sizes.filter(F.col("count") > k).count() == 0
    src_sizes = ev.groupBy("user_id", "event_type").count()
    expected_total = src_sizes.select(
        F.sum(F.least(F.col("count"), F.lit(k)))
    ).first()[0]
    assert kept.count() == expected_total
    again = group_topk_sample(
        ev.repartition(13), ["user_id", "event_type"], F.col("event_id"), k
    )
    assert again.exceptAll(kept).count() == 0 and kept.exceptAll(again).count() == 0
