"""TPC-H-shape queries (plans/tpch.py) cross-checked against DuckDB at
sf0.001 — the same harness the driver runs at sf0.01, kept in-suite so
a regression is caught before a round boundary."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from conftest import assert_same_rows, duckdb_frame

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem",
]
TPCH_QUERIES = [
    "q4_priority_count",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q12_late_by_priority",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q16_supplier_cnt",
    "q18_large_orders",
    "q22_idle_customers",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q15_top_supplier",
    "q20_excess_suppliers",
    "q21_waiting_orders",
]


@pytest.mark.parametrize("name", TPCH_QUERIES)
def test_matches_duckdb_oracle(spark, name):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duckdb_frame(entrymod.oracle_sql()[name], SF_DIR)
    assert_same_rows(sdf, odf, rtol=1e-9, atol=1e-9)


def test_nonvacuous_at_driver_sf(spark):
    """Queries whose whole point is selectivity must return rows at
    sf0.01 — the SF the driver's correctness gate runs at — because a
    0=0 oracle match proves nothing."""
    for name in ["q7_volume_shipping", "q9_product_profit",
                 "q13_customer_distribution", "q22_idle_customers"]:
        df = entrymod.queries()[name](spark, "/root/testdata/sf0.01")
        assert df.count() > 0, name
