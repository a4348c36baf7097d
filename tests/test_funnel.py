"""Funnel/retention semantics pinned on a hand-built event frame, plus
oracle parity for the registered queries at sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from activity_classifier_spark_cassandra_spark.operators.funnel import funnel_counts
from conftest import assert_same_rows, duckdb_frame

SF_DIR = "/root/testdata/sf0.001"
MS = 1_000_000  # synthetic frames use an exact long-nanos timeline;
# funnel_counts takes any exact integer ts unit (within in the same unit)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts long"
    )


def _counts(df):
    return {
        r["stage"]: r["n_users"] for r in df.collect()
    }


def test_funnel_strict_order(spark):
    """A click BEFORE the first view must not count as stage 2."""
    ev = _events(spark, [
        (1, "click", 10 * MS), (1, "view", 20 * MS),          # click too early
        (2, "view", 10 * MS), (2, "click", 30 * MS),          # in order
    ])
    c = _counts(funnel_counts(ev, ["view", "click"], ts_col="ts"))
    assert c == {"view": 2, "click": 1}


def test_funnel_conversion_window(spark):
    """With a conversion window, a next-stage event after it is out; the
    EARLIEST qualifying event is what anchors the following hop."""
    ev = _events(spark, [
        (1, "view", 0), (1, "click", 5 * MS), (1, "buy", 100 * MS),
        (2, "view", 0), (2, "click", 50 * MS),                # past window
    ])
    c = _counts(
        funnel_counts(ev, ["view", "click", "buy"], ts_col="ts",
                      within=10 * MS)
    )
    # user 1: click at 5ms (≤10ms) anchors buy window (5..15ms]; buy at
    # 100ms is out.  user 2's click at 50ms is past the view window.
    assert c == {"view": 2, "click": 1, "buy": 0}


def test_funnel_uses_earliest_stage_event(spark):
    """Multiple qualifying events: min(ts) anchors the next hop, so a
    later in-window click must not extend the buy window."""
    ev = _events(spark, [
        (1, "view", 0),
        (1, "click", 2 * MS), (1, "click", 9 * MS),
        (1, "buy", 11 * MS),
    ])
    c = _counts(
        funnel_counts(ev, ["view", "click", "buy"], ts_col="ts",
                      within=10 * MS)
    )
    # buy window anchored at click@2ms -> (2..12ms]; buy@11ms is in.
    assert c == {"view": 1, "click": 1, "buy": 1}
    c2 = _counts(
        funnel_counts(ev, ["view", "click", "buy"], ts_col="ts",
                      within=5 * MS)
    )
    # window 5ms: click@2 in; buy window (2..7]; buy@11 out.
    assert c2 == {"view": 1, "click": 1, "buy": 0}


@pytest.mark.parametrize("name", ["q_funnel", "q_retention", "q_daily_active"])
def test_matches_duckdb_oracle(spark, name):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duckdb_frame(entrymod.oracle_sql()[name], SF_DIR)
    assert_same_rows(sdf, odf, rtol=1e-9, atol=1e-9)


def test_retention_day0_is_full_cohort(spark):
    """Every user is active on their own day 0, so offset 0 counts all
    users that appear at all."""
    q = entrymod.queries()["q_retention"]
    df = q(spark, SF_DIR).toPandas().set_index("day_offset")
    from activity_classifier_spark_cassandra_spark.sources.io import load_table
    n_users = load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert int(df.loc[0, "n_users"]) == n_users


def test_funnel_counts_monotonically_decrease(spark):
    """Each stage's survivor count can never exceed the previous
    stage's — on real data at the driver's correctness SF."""
    df = entrymod.queries()["q_funnel"](spark, "/root/testdata/sf0.01")
    rows = sorted(df.collect(), key=lambda r: r["stage_idx"])
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > counts[-1] > -1
