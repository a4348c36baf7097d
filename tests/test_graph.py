"""Connected components: hand-built graph semantics + oracle parity."""

from __future__ import annotations


import __spark_entry__ as entrymod
from activity_classifier_spark_cassandra_spark.operators.graph import (
    connected_components_star,
)
from conftest import assert_same_rows, duckdb_frame

SF_DIR = "/root/testdata/sf0.01"


def _comp(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["id"]: r["comp"]
        for r in connected_components_star(df).collect()
    }


def test_chain_collapses_to_one_component(spark):
    """1-2, 2-3, 3-4: transitivity across hops (this is exactly what
    pairwise dedup output lacks)."""
    got = _comp(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_components_stay_apart(spark):
    got = _comp(spark, [(1, 2), (10, 11), (11, 12)])
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}


def test_edge_direction_is_irrelevant(spark):
    """Min label must flow against the listed edge direction too."""
    got = _comp(spark, [(5, 1), (5, 6)])
    assert got == {1: 1, 5: 1, 6: 1}


def test_matches_recursive_cte_oracle(spark):
    sdf = entrymod.queries()["q_dedup_clusters"](spark, SF_DIR).toPandas()
    odf = duckdb_frame(entrymod.oracle_sql()["q_dedup_clusters"], SF_DIR)
    assert_same_rows(sdf, odf)
    assert len(sdf) > 0


def test_star_long_chain(spark):
    """A 12-hop chain — the adversarial shape where label propagation
    needs diameter rounds; star rounds must still find one component
    (and each vertex must get exactly one label)."""
    edges = [(i, i + 1) for i in range(1, 13)]
    got = _comp(spark, edges)
    assert got == {i: 1 for i in range(1, 14)}


def test_star_mixed_graph_labeling(spark):
    """Cliques + chains + isolated pairs, shuffled ids: every vertex
    is labeled with its component's min id."""
    edges = (
        [(100, 7), (7, 55), (55, 100)]          # triangle
        + [(2, 9), (9, 30), (30, 4)]            # chain
        + [(77, 78)]                            # pair
        + [(40, 41), (41, 42), (42, 40), (42, 43)]  # clique + tail
    )
    comps = {7: [100, 7, 55], 2: [2, 9, 30, 4], 77: [77, 78], 40: [40, 41, 42, 43]}
    assert _comp(spark, edges) == {v: c for c, vs in comps.items() for v in vs}


def test_triangle_count_matches_bruteforce(spark):
    """Degree-ordered wedge counting must equal the O(n^3) brute-force
    triangle enumeration over the same MinHash candidate edge set."""
    from itertools import combinations

    from activity_classifier_spark_cassandra_spark.operators.dedup import q_dedup_minhash
    from activity_classifier_spark_cassandra_spark.operators.graph import q_triangle_count

    sf = "/root/testdata/sf0.001"
    pairs = q_dedup_minhash(spark, sf).toPandas()
    adj = {}
    for r in pairs.itertuples():
        adj.setdefault(r.doc1, set()).add(r.doc2)
        adj.setdefault(r.doc2, set()).add(r.doc1)
    want = {}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    got = {
        int(r.doc_id): int(r.n_triangles)
        for r in q_triangle_count(spark, sf).toPandas().itertuples()
    }
    assert got == want
