"""Semantics of the warehouse-maintenance operators on hand-built
frames — SCD2 interval build, time-series resample/gap-fill, and the
data-quality audit — plus sf0.001 oracle parity for their registered
queries."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from activity_classifier_spark_cassandra_spark.operators.cdc import scd2_intervals
from activity_classifier_spark_cassandra_spark.operators.timeseries import (
    DAY_MS,
    resample_gapfill,
)
from conftest import assert_same_rows, duckdb_frame

SF_DIR = "/root/testdata/sf0.001"


def test_scd2_collapses_runs_into_intervals(spark):
    # user 1: A A B A  -> three intervals; user 2: C -> one open interval
    ev = spark.createDataFrame(
        [
            (1, 10, 100, "A"),
            (1, 11, 200, "A"),
            (1, 12, 300, "B"),
            (1, 13, 400, "A"),
            (2, 20, 100, "C"),
        ],
        ["user_id", "event_id", "ts_ms", "event_type"],
    )
    rows = sorted(
        scd2_intervals(ev).collect(), key=lambda r: (r["user_id"], r["run_id"])
    )
    got = [
        (r["user_id"], r["event_type"], r["valid_from_ms"], r["valid_to_ms"],
         r["n_events"])
        for r in rows
    ]
    assert got == [
        (1, "A", 100, 300, 2),
        (1, "B", 300, 400, 1),
        (1, "A", 400, None, 1),
        (2, "C", 100, None, 1),
    ]


def test_scd2_ties_break_on_event_id(spark):
    # same ts_ms: event_id orders the run deterministically
    ev = spark.createDataFrame(
        [(1, 2, 100, "B"), (1, 1, 100, "A")],
        ["user_id", "event_id", "ts_ms", "event_type"],
    )
    rows = sorted(scd2_intervals(ev).collect(), key=lambda r: r["run_id"])
    assert [r["event_type"] for r in rows] == ["A", "B"]


def test_gapfill_densifies_and_forward_fills(spark):
    # user 1 active on days 0 and 2 -> day 1 synthesized as a gap with
    # the day-0 value carried forward
    ev = spark.createDataFrame(
        [
            (1, 0 * DAY_MS + 5, 1.0),
            (1, 0 * DAY_MS + 6, 2.0),
            (1, 2 * DAY_MS + 1, 7.0),
        ],
        ["user_id", "ts_ms", "value"],
    )
    rows = sorted(resample_gapfill(ev).collect(), key=lambda r: r["day"])
    got = [
        (r["day"], r["n_events"], r["is_gap"], r["value_ffill"]) for r in rows
    ]
    assert got == [
        (0, 2, False, 3.0),
        (1, 0, True, 3.0),
        (2, 1, False, 7.0),
    ]


def test_dq_audit_flags_seeded_violations(spark, tmp_path):
    # seed one orphan lineitem, one childless order, one dup customer key
    import pyspark.sql.functions as F

    orders = spark.createDataFrame(
        [(1, "O", 10.0), (2, "O", 20.0), (3, "", -5.0)],
        ["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    lineitem = spark.createDataFrame(
        [(1, 5.0, 0.1), (2, 60.0, 0.9), (99, 3.0, 0.2)],
        ["l_orderkey", "l_quantity", "l_discount"],
    )
    customer = spark.createDataFrame(
        [(1,), (1,), (2,)], ["c_custkey"]
    )
    for name, df in [
        ("orders", orders), ("lineitem", lineitem), ("customer", customer)
    ]:
        df.write.mode("overwrite").parquet(f"{tmp_path}/{name}.parquet")

    from activity_classifier_spark_cassandra_spark.operators.dq import q_dq_audit

    out = {
        r["check_name"]: (r["n_violations"], r["n_checked"])
        for r in q_dq_audit(spark, str(tmp_path)).collect()
    }
    assert out["orders_nonpositive_price"] == (1, 3)
    assert out["orders_blank_status"] == (1, 3)
    assert out["lineitem_qty_out_of_range"] == (1, 3)
    assert out["lineitem_discount_range"] == (1, 3)
    assert out["lineitem_orphans"] == (1, 3)
    assert out["orders_childless"] == (1, 3)
    assert out["customer_dup_keys"] == (1, 3)


@pytest.mark.parametrize(
    "name",
    [
        "q_scd2",
        "q_resample_gapfill",
        "q_dq_audit",
        "q_event_transitions",
        "q_time_rollup",
        "q_bucketed_join",
        "q_approx_distinct",
        "q_stream_stateful",
        "q_salted_join",
    ],
)
def test_matches_duckdb_oracle(spark, name):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duckdb_frame(entrymod.oracle_sql()[name], SF_DIR)
    assert_same_rows(sdf, odf, rtol=1e-9, atol=1e-9)


def test_key_skew_profile_orders_and_bounds(spark):
    from activity_classifier_spark_cassandra_spark.operators.skew import (
        key_skew_profile,
    )
    from activity_classifier_spark_cassandra_spark.sources.io import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    prof = key_skew_profile(ev, "user_id", top_n=5).collect()
    assert len(prof) == 5
    counts = [r["n"] for r in prof]
    assert counts == sorted(counts, reverse=True)
    total = ev.count()
    for r in prof:
        assert abs(r["share"] - round(r["n"] / total, 6)) < 1e-12
    assert sum(r["share"] for r in prof) <= 1.0
