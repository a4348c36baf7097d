"""Upsert compaction semantics on a hand-built base/update pair, plus
oracle parity for the registered CDC / reshape / anomaly queries."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from activity_classifier_spark_cassandra_spark.operators.cdc import upsert_compact
from conftest import assert_same_rows, duckdb_frame

SF_DIR = "/root/testdata/sf0.001"


def test_latest_version_wins_and_inserts_pass_through(spark):
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)], ["k", "v", "version"]
    )
    updates = spark.createDataFrame(
        [(2, "b2", 1), (3, "c", 1)], ["k", "v", "version"]
    )
    got = {
        r["k"]: (r["v"], r["version"])
        for r in upsert_compact(base, updates, ["k"], "version").collect()
    }
    assert got == {1: ("a", 0), 2: ("b2", 1), 3: ("c", 1)}


def test_compaction_emits_one_row_per_key(spark):
    base = spark.createDataFrame(
        [(1, "a", 0), (1, "a-dup", 2), (1, "a-mid", 1)], ["k", "v", "version"]
    )
    empty = base.filter("false")
    out = upsert_compact(base, empty, ["k"], "version").collect()
    assert len(out) == 1 and out[0]["v"] == "a-dup"


@pytest.mark.parametrize(
    "name", ["q_upsert_compact", "q_unpivot", "q_zscore_anomaly"]
)
def test_matches_duckdb_oracle(spark, name):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duckdb_frame(entrymod.oracle_sql()[name], SF_DIR)
    assert_same_rows(sdf, odf, rtol=1e-9, atol=1e-9)


def test_snapshot_diff_classifies_all_four(spark):
    from pyspark.sql import Row

    from activity_classifier_spark_cassandra_spark.operators.cdc import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [Row(k=1, value=1.0), Row(k=2, value=2.0), Row(k=3, value=3.0)]
    )
    new = spark.createDataFrame(
        [Row(k=2, value=2.0), Row(k=3, value=9.0), Row(k=4, value=4.0)]
    )
    out = {
        r["status"]: (r["n_keys"], r["sum_value_old"], r["sum_value_new"])
        for r in snapshot_diff(old, new, "k").collect()
    }
    assert out["removed"] == (1, 1.0, None)
    assert out["added"] == (1, None, 4.0)
    assert out["changed"] == (1, 3.0, 9.0)
    assert out["unchanged"] == (1, 2.0, 2.0)


def test_snapshot_diff_single_join_plan(spark):
    import re

    from activity_classifier_spark_cassandra_spark.operators.cdc import (
        q_snapshot_diff,
    )

    plan = (
        q_snapshot_diff(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly one (full-outer) join, no cartesian
    assert len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)) == 1
    assert "CartesianProduct" not in plan


def test_snapshot_diff_null_values_are_not_missing_keys(spark):
    """A NULL value in a PRESENT row must classify as changed /
    unchanged — presence comes from explicit flags, never from value
    nullness."""
    from pyspark.sql import Row

    from activity_classifier_spark_cassandra_spark.operators.cdc import (
        snapshot_diff,
    )

    schema = "k long, value double"
    old = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, None)], schema
    )
    new = spark.createDataFrame(
        [(1, 7.0), (2, None), (3, None)], schema
    )
    out = {
        r["status"]: r["n_keys"]
        for r in snapshot_diff(old, new, "k").collect()
    }
    # NULL->7.0 changed, 5.0->NULL changed, NULL<=>NULL unchanged
    assert out == {"changed": 2, "unchanged": 1}
