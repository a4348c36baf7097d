"""Sketch aggregates (q_approx_sketch): error bounds pinned against the
exact answers — the driver's rows-only check can't see values, so this
is the correctness gate for the approximate family."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from conftest import assert_same_rows, duckdb_frame

SF_DIR = "/root/testdata/sf0.01"


def test_sketches_within_error_bounds(spark):
    from activity_classifier_spark_cassandra_spark.plans.relational import approx_sketch_raw

    got = approx_sketch_raw(spark, SF_DIR).toPandas().set_index("l_returnflag")
    exact = duckdb_frame(
        """
        SELECT l_returnflag,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               quantile_cont(l_extendedprice, 0.5)  AS q50,
               quantile_cont(l_extendedprice, 0.95) AS q95,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        """,
        SF_DIR,
    ).set_index("l_returnflag")
    assert sorted(got.index) == sorted(exact.index)
    for flag in exact.index:
        e, g = exact.loc[flag], got.loc[flag]
        # HLL++ at rsd=0.02: allow 3 sigma
        assert abs(g["approx_orders"] - e["n_orders"]) <= 0.06 * e["n_orders"]
        q50, q95 = g["price_q50"], g["price_q95"]
        # GK sketch with accuracy 10000 on ~20k rows/group: near-exact;
        # allow 2% relative slack
        assert abs(q50 - e["q50"]) <= 0.02 * e["q50"]
        assert abs(q95 - e["q95"]) <= 0.02 * e["q95"]
        assert g["n_rows"] == e["n_rows"]


def test_gated_sketch_all_true(spark):
    """The driver-facing shape: every tolerance gate must come back
    TRUE (this is exactly what the oracle hash asserts)."""
    got = entrymod.queries()["q_approx_sketch"](spark, SF_DIR).toPandas()
    assert len(got) == 3
    assert got["hll_in_tolerance"].all()
    assert got["q50_in_tolerance"].all()
    assert got["q95_in_tolerance"].all()


@pytest.mark.parametrize("name", ["q_grouping_sets", "q_ntile_dist"])
def test_matches_duckdb_oracle(spark, name):
    sf = "/root/testdata/sf0.001"
    sdf = entrymod.queries()[name](spark, sf).toPandas()
    odf = duckdb_frame(entrymod.oracle_sql()[name], sf)
    assert_same_rows(sdf, odf, rtol=1e-9, atol=1e-9)
