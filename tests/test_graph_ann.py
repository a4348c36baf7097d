"""NN-descent graph build + beam search (operators/graph_ann.py).

Ground truth is exact brute-force kNN computed in numpy on the same
500-vector sf0.001 table, so the recall assertions are deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from activity_classifier_spark_cassandra_spark.operators import graph_ann as GA
from activity_classifier_spark_cassandra_spark.sources.io import load_table
from conftest import assert_same_rows, duckdb_frame

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def exact_topk():
    """Brute-force cosine top-k per vector (excluding self), numpy."""
    t = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    ids = t["vec_id"].to_numpy()
    E = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = En @ En.T
    np.fill_diagonal(S, -np.inf)
    order = np.argsort(-S, axis=1)
    return ids, order, S


def _graph_recall(gdf: pd.DataFrame, ids, order, k: int) -> float:
    truth = {
        int(ids[i]): {int(ids[j]) for j in order[i, :k]}
        for i in range(len(ids))
    }
    hits = tot = 0
    for vid, grp in gdf.groupby("vec_id"):
        got = set(grp["neighbor_id"].astype(int))
        hits += len(got & truth[int(vid)])
        tot += k
    return hits / tot


def test_nn_descent_rounds_improve_recall(spark, exact_topk):
    """Each NN-descent round must strictly improve graph recall@k on
    the fixed corpus — the paper's convergence property, pinned."""
    ids, order, _ = exact_topk
    emb = load_table(spark, SF, "embeddings")
    recalls = []
    for iters in (0, 1, GA.G_ITERS):
        g = GA.build_knn_graph(emb, iters=iters).toPandas()
        recalls.append(_graph_recall(g, ids, order, GA.G_K))
    assert recalls[0] < recalls[1] < recalls[2], recalls
    # the shipped graph must be a usable index, not noise
    assert recalls[2] > 0.85, recalls


def test_graph_degree_and_rank_contract(spark):
    g = GA.q_knn_graph(spark, SF).toPandas()
    per = g.groupby("vec_id").size()
    assert (per <= GA.G_K).all()
    # no self-loops, ranks dense from 1
    assert (g["vec_id"] != g["neighbor_id"]).all()
    first = g.sort_values(["vec_id", "rank"]).groupby("vec_id")["rank"].first()
    assert (first == 1).all()


def test_beam_search_beats_entry_and_hits_topk(spark, exact_topk):
    """Beam search must return TOP_K rows per query, never the query
    itself, and its best hit must be a genuine near neighbor: mean
    recall@5 vs brute force above a floor that random hops (graph
    degree 6, 3 hops from one entry) could not reach."""
    ids, order, S = exact_topk
    res = GA.q_knn_graph_search(spark, SF).toPandas()
    assert len(res) == GA.N_QUERIES * GA.TOP_K
    assert (res["query_id"] != res["neighbor_id"]).all()
    truth = {
        int(ids[i]): {int(ids[j]) for j in order[i, : GA.TOP_K]}
        for i in range(len(ids))
        if ids[i] < GA.N_QUERIES
    }
    hits = sum(
        len(set(grp["neighbor_id"].astype(int)) & truth[int(q)])
        for q, grp in res.groupby("query_id")
    )
    recall = hits / (GA.N_QUERIES * GA.TOP_K)
    assert recall >= 0.6, recall
    # returned cosines must be the exact rounded scores
    E = np.stack(
        pq.read_table(f"{SF}/embeddings.parquet")
        .to_pandas()["embedding"]
        .to_numpy()
    ).astype(np.float64)
    for r in res.itertuples():
        q, n = int(r.query_id), int(r.neighbor_id)
        want = round(
            float(E[q] @ E[n] / (np.linalg.norm(E[q]) * np.linalg.norm(E[n]))),
            6,
        )
        # numpy's SIMD summation can differ from Spark's element-order
        # fold in the last ulp; at a 6-dp rounding boundary that shows
        # up as exactly 1e-6 — allow it, reject anything larger.
        assert abs(r.cosine - want) < 1.5e-6


def test_saved_index_serves_identically(spark, tmp_path):
    """build -> save -> load -> beam_search must return exactly the
    inline build+search result (the persisted-index serving path)."""
    from activity_classifier_spark_cassandra_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings")
    # the builder q_knn_graph_search composes (SQ8, the round-10
    # default) — exact-vs-q8 edge near-ties would otherwise leak
    # into this equality check
    graph = GA.build_knn_graph_q8(emb)
    path = str(tmp_path / "knn_graph")
    GA.save_knn_graph(graph, path)
    served = GA.beam_search(emb, GA.load_knn_graph(spark, path)).toPandas()
    inline = GA.q_knn_graph_search(spark, SF).toPandas()
    cols = sorted(served.columns)
    a = served[cols].sort_values(cols).reset_index(drop=True)
    b = inline[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_recall_survives_corpus_growth(spark):
    """Round-9 verdict criterion pinned: search recall@5 >= 0.8 on the
    2,000-vector sf0.1 table.  The graph itself plateaus near 0.45
    recall@12 on this near-random corpus (inherent, Dong 2011 §5) —
    the multi-entry wide-beam search is what must absorb the growth,
    and its cost is |queries|*BEAM*HOPS, independent of N."""
    import pyspark.sql.functions as F

    df = GA.q_graph_recall_eval(spark, "/root/testdata/sf0.1")
    mean = df.agg(F.avg("recall_at_5")).collect()[0][0]
    assert mean >= 0.8, mean


def test_incremental_insert_semantics(spark):
    """Insert contract: every new vector gets exactly G_K out-edges
    into OLD vertices; old vertices untouched by any reverse edge
    keep their rows verbatim; an affected vertex's updated list is
    the top-G_K of (its old list ∪ its new reverse arrivals)."""
    from activity_classifier_spark_cassandra_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings")
    all_ids = sorted(
        r.vec_id for r in emb.select("vec_id").collect()
    )
    new_ids = set(all_ids[-GA.INSERT_BATCH:])
    old_ids = set(all_ids) - new_ids

    updated = GA.q_knn_graph_insert(spark, SF).toPandas()
    # same builder the query composes (SQ8, the round-10 default) —
    # the contract under test is the INSERT semantics, so the
    # standing index must be byte-identical to the query's
    old_graph = GA.build_knn_graph_q8(
        emb.filter(~emb.vec_id.isin(list(new_ids)))
    ).toPandas()

    new_rows = updated[updated.vec_id.isin(new_ids)]
    assert (new_rows.groupby("vec_id").size() == GA.G_K).all()
    assert set(new_rows.neighbor_id).issubset(old_ids)

    rev_targets = set(new_rows.neighbor_id)
    untouched_ids = old_ids - rev_targets
    u_new = (
        updated[updated.vec_id.isin(untouched_ids)]
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    u_old = (
        old_graph[old_graph.vec_id.isin(untouched_ids)]
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(u_new, u_old, check_dtype=False)

    # one affected vertex spot-checked: updated list = top-G_K of
    # old edges ∪ reverse arrivals, ranked by (cosine desc, id asc)
    v = sorted(rev_targets)[0]
    old_list = [
        (r.cosine, r.neighbor_id)
        for r in old_graph[old_graph.vec_id == v].itertuples()
    ]
    rev_list = [
        (r.cosine, int(r.vec_id))
        for r in new_rows[new_rows.neighbor_id == v].itertuples()
    ]
    want = sorted(old_list + rev_list, key=lambda t: (-t[0], t[1]))[: GA.G_K]
    got = [
        (r.cosine, r.neighbor_id)
        for r in updated[updated.vec_id == v]
        .sort_values("rank")
        .itertuples()
    ]
    assert [(round(c, 6), int(n)) for c, n in got] == [
        (round(c, 6), int(n)) for c, n in want
    ]


def test_insert_policy_trade_row(spark):
    """The rebuild-vs-insert policy audit: one row per standard query,
    hits bounded by TOP_K, recalls = hits/TOP_K, and the incremental
    index must still be serviceable (its mean recall not collapsed
    relative to the fresh rebuild's — the trade the query exists to
    measure; at sf0.1 it reads 0.88 vs 0.94)."""
    df = GA.q_graph_insert_policy(spark, SF).toPandas()
    assert len(df) == GA.N_QUERIES
    assert df.query_id.is_unique
    for col in ("n_hits_insert", "n_hits_rebuild"):
        assert df[col].between(0, GA.TOP_K).all()
    assert (df.recall_insert == (df.n_hits_insert / GA.TOP_K).round(6)).all()
    assert (df.recall_rebuild == (df.n_hits_rebuild / GA.TOP_K).round(6)).all()
    mi, mr = df.recall_insert.mean(), df.recall_rebuild.mean()
    assert mr >= 0.8, mr
    assert mi >= mr - 0.3, (mi, mr)


def test_q8_prescore_build_recall_parity(spark, exact_topk):
    """The SQ8 build must match the exact build's graph recall: every
    NN-descent round ranks candidates by SQ8 quantized cosine (~1%
    relative error) end-to-end, with one exact rescore at the very end,
    so only near-tie edges can differ from the exact build — and a
    near-tie swap cannot move graph recall measurably."""
    ids, order, _ = exact_topk
    emb = load_table(spark, SF, "embeddings")
    g_exact = GA.build_knn_graph(emb).toPandas()
    g_q8 = GA.build_knn_graph_q8(emb).toPandas()
    r_exact = _graph_recall(g_exact, ids, order, GA.G_K)
    r_q8 = _graph_recall(g_q8, ids, order, GA.G_K)
    assert r_q8 >= r_exact - 0.02, (r_q8, r_exact)
    # contract parity with the exact build
    per = g_q8.groupby("vec_id").size()
    assert (per <= GA.G_K).all()
    assert (g_q8["vec_id"] != g_q8["neighbor_id"]).all()
    # the overwhelming majority of edges should agree outright
    key = lambda df: set(zip(df["vec_id"], df["neighbor_id"]))
    overlap = len(key(g_exact) & key(g_q8)) / len(key(g_exact))
    assert overlap > 0.95, overlap


def test_q8_graph_serves_beam_search(spark, exact_topk):
    """Beam search over the q8-built graph reaches the same recall@5
    as over the exact build (the serving contract for the scale
    path)."""
    ids, order, _ = exact_topk
    emb = load_table(spark, SF, "embeddings")
    truth = {
        int(ids[i]): {int(ids[j]) for j in order[i, :5]}
        for i in range(len(ids))
        if ids[i] < GA.N_QUERIES
    }

    def recall(graph):
        res = GA.beam_search(emb, graph, k=5).toPandas()
        hits = sum(
            int(n) in truth[int(q)]
            for q, n in zip(res["query_id"], res["neighbor_id"])
        )
        return hits / (len(truth) * 5)

    r_exact = recall(GA.build_knn_graph(emb))
    r_q8 = recall(GA.build_knn_graph_q8(emb))
    assert r_q8 >= r_exact - 0.02, (r_q8, r_exact)
    assert r_q8 > 0.9, r_q8


def test_routed_entry_frontier_contract(spark):
    """Routed entries: <= ROUTE_ENTRIES per query, every node is a
    graph vertex from one of the query's ROUTE_NPROBE probed cells,
    never the query itself."""
    from activity_classifier_spark_cassandra_spark.operators.similarity import (
        blas_assign,
        train_kmeans_centroids_blas,
    )

    emb = load_table(spark, SF, "embeddings")
    graph = GA.build_knn_graph_q8(emb).localCheckpoint(eager=True)
    cents = train_kmeans_centroids_blas(emb, k=GA.ROUTE_K)
    qs = emb.filter(emb.vec_id < GA.N_QUERIES).select(
        emb.vec_id.alias("query_id"), emb.embedding.alias("e1")
    )
    ef = GA.routed_entry_frontier(emb, graph, qs, cents).toPandas()
    per = ef.groupby("query_id").size()
    assert (per <= GA.ROUTE_ENTRIES).all()
    assert set(per.index) == set(range(GA.N_QUERIES))
    assert (ef.query_id != ef.node).all()
    verts = {
        r.vec_id for r in graph.select("vec_id").distinct().collect()
    }
    assert set(ef.node).issubset(verts)
    # cell membership: every entry's cluster is one the query probes
    assign = blas_assign(emb, cents).toPandas().set_index("vec_id")
    # query routes replicated from the frontier builder's rule: the
    # query's own cluster must be among its probed cells, and its
    # entries' clusters must come from <= ROUTE_NPROBE distinct cells
    cells_per_q = ef.assign(c=assign.loc[ef.node, "cluster"].values)
    assert (
        cells_per_q.groupby("query_id").c.nunique() <= GA.ROUTE_NPROBE
    ).all()


def test_routed_recall_floor_and_vs_hash(spark, exact_topk):
    """The routed search must clear the 0.8 floor the hash-spread
    default is pinned to, and (the point of routing) must not lose
    to it — measured 0.98 vs 0.94 at sf0.1, 0.92 vs 0.72 at the
    20k-vector probe (BASELINE.md "IVF-routed entry vertices")."""
    ids, order, _ = exact_topk
    truth = {
        int(ids[i]): {int(ids[j]) for j in order[i, : GA.TOP_K]}
        for i in range(len(ids))
        if ids[i] < GA.N_QUERIES
    }
    routed = GA.q_knn_graph_routed(spark, SF).toPandas()
    hits = sum(
        len(set(g.neighbor_id) & truth[int(q)])
        for q, g in routed.groupby("query_id")
    )
    r_routed = hits / (len(truth) * GA.TOP_K)
    assert r_routed >= 0.8, r_routed

    emb = load_table(spark, SF, "embeddings")
    graph = GA.build_knn_graph_q8(emb).localCheckpoint(eager=True)
    hashed = GA.beam_search(emb, graph).toPandas()
    hits_h = sum(
        len(set(g.neighbor_id) & truth[int(q)])
        for q, g in hashed.groupby("query_id")
    )
    r_hash = hits_h / (len(truth) * GA.TOP_K)
    # strict: routing must never lose to the hash-spread default —
    # a regression that makes routed entries WORSE than hashing is a
    # routing bug, not noise (both searches are deterministic here)
    assert r_routed >= r_hash, (r_routed, r_hash)


def _clustered_emb(spark, n_clusters=10, size=20, noise=1e-3, seed=77):
    """Tightly clustered corpus: NN-descent converges before G_ITERS
    rounds on it (per-round updates hit 0 by round 3 at this shape),
    unlike the near-random test embeddings."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, 16))
    rows = []
    for i in range(n_clusters * size):
        v = centers[i % n_clusters] + noise * rng.normal(size=16)
        rows.append((i, (v / np.linalg.norm(v)).astype("float32").tolist()))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<float>"
    )


def test_delta_termination_early_stop_and_oracle_parity(spark, tmp_path):
    """δ-termination (Dong 2011): on the clustered corpus both builds
    must stop BEFORE G_ITERS rounds, the early-stopped output must
    equal running exactly that many rounds, and the DuckDB oracle —
    which replays every round but SELECTS the stopped one — must
    match bit-for-bit (the cross-engine pin of the stop rule)."""
    emb = _clustered_emb(spark)
    emb.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    g8 = GA.build_knn_graph_q8(emb).toPandas()
    rounds8 = GA.last_realized_rounds
    assert 0 < rounds8 < GA.G_ITERS, rounds8

    gx = GA.build_knn_graph(emb).toPandas()
    roundsx = GA.last_realized_rounds
    assert 0 < roundsx < GA.G_ITERS, roundsx

    # stop-at-r == run-exactly-r-rounds (delta=0 disables the stop)
    g8_fixed = GA.build_knn_graph_q8(
        emb, iters=rounds8, delta=0.0
    ).toPandas()
    cols = ["vec_id", "neighbor_id", "cosine", "rank"]
    a = g8[cols].sort_values(cols).reset_index(drop=True)
    b = g8_fixed[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    for sdf, sql in ((g8, GA.KNN_GRAPH_Q8_SQL), (gx, GA.KNN_GRAPH_SQL)):
        assert_same_rows(sdf, duckdb_frame(sql, str(tmp_path)))
        assert len(sdf) > 0


def test_delta_termination_noop_on_test_corpus(spark):
    """The near-random sf0.001 embeddings keep per-round updates far
    above δ·K·N, so the default build runs all G_ITERS rounds there —
    pinning that δ-termination changes nothing at the driver's SFs."""
    emb = load_table(spark, SF, "embeddings")
    GA.build_knn_graph_q8(emb).count()
    assert GA.last_realized_rounds == GA.G_ITERS


def test_incremental_delete_semantics(spark):
    """Delete contract: no deleted id anywhere in the output (either
    column); vertices with no edge into the deleted set keep rows
    verbatim; an affected vertex's repaired list is the top-G_K of
    (its surviving edges ∪ its bridge candidates through deleted
    neighbors), ranked by (cosine desc, id asc)."""
    emb = load_table(spark, SF, "embeddings")
    all_ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    del_ids = set(all_ids[-GA.DELETE_BATCH:])

    graph = GA.build_knn_graph_q8(emb).toPandas()
    out = GA.q_knn_graph_delete(spark, SF).toPandas()

    assert not (out.vec_id.isin(del_ids)).any()
    assert not (out.neighbor_id.isin(del_ids)).any()
    assert (out.groupby("vec_id").size() <= GA.G_K).all()

    affected = set(
        graph[
            ~graph.vec_id.isin(del_ids) & graph.neighbor_id.isin(del_ids)
        ].vec_id
    )
    assert affected, "fixture must actually tear holes"
    surviving = graph[
        ~graph.vec_id.isin(del_ids) & ~graph.neighbor_id.isin(del_ids)
    ]

    # untouched rows verbatim (incl. original rank)
    unt = sorted(set(surviving.vec_id) - affected)
    a = (
        out[out.vec_id.isin(unt)]
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    b = (
        surviving[surviving.vec_id.isin(unt)]
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a[["vec_id", "neighbor_id", "cosine", "rank"]],
        b[["vec_id", "neighbor_id", "cosine", "rank"]],
        check_dtype=False,
    )

    # one affected vertex spot-checked against the bridge rule
    E = np.stack(
        pq.read_table(f"{SF}/embeddings.parquet")
        .to_pandas()
        .set_index("vec_id")["embedding"]
        .to_numpy()
    )
    ids = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()["vec_id"]
    idx = {int(v): i for i, v in enumerate(ids)}

    def cos(a_, b_):
        va, vb = E[idx[a_]].astype(float), E[idx[b_]].astype(float)
        return round(
            float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6
        )

    v = sorted(affected)[0]
    surv_v = [
        (r.cosine, int(r.neighbor_id))
        for r in surviving[surviving.vec_id == v].itertuples()
    ]
    my_deleted = set(
        graph[(graph.vec_id == v) & graph.neighbor_id.isin(del_ids)].neighbor_id
    )
    bridge = {
        int(w)
        for d in my_deleted
        for w in graph[graph.vec_id == d].neighbor_id
        if w not in del_ids and int(w) != v
    } - {n for _, n in surv_v}
    cands = surv_v + [(cos(v, w), w) for w in bridge]
    # numpy cosine can differ from the fold in the last ulp at a
    # 6-dp boundary — compare the neighbor SETS under a 1e-6-robust
    # rule instead of exact scores
    want = sorted(cands, key=lambda t: (-t[0], t[1]))[: GA.G_K]
    got = out[out.vec_id == v].sort_values("rank")
    assert len(got) == len(want)
    got_set = set(got.neighbor_id.astype(int))
    want_set = {n for _, n in want}
    diff = got_set ^ want_set
    if diff:  # any disagreement must sit at a near-tie boundary
        border = min(c for c, _ in want)
        for n in diff:
            assert abs(cos(v, int(n)) - border) <= 2e-6, (n, border)


def test_incremental_update_semantics(spark):
    """Update contract (delete+insert composed): every updated id
    reappears with exactly G_K out-edges into NON-updated vertices;
    its new neighbor list reflects the NEW (reversed) embedding, not
    the old one; vertices untouched by both halves keep their
    post-delete rows verbatim."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")
    all_ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    upd_ids = set(all_ids[-GA.DELETE_BATCH:])

    out = GA.q_knn_graph_update(spark, SF).toPandas()
    new_rows = out[out.vec_id.isin(upd_ids)]
    assert set(new_rows.vec_id) == upd_ids
    assert (new_rows.groupby("vec_id").size() == GA.G_K).all()
    assert not new_rows.neighbor_id.isin(upd_ids).any()

    # the new out-edges score the REVERSED embedding: verify one id's
    # top edge cosine against numpy on the reversed vector
    E = (
        pq.read_table(f"{SF}/embeddings.parquet")
        .to_pandas()
        .set_index("vec_id")["embedding"]
    )
    v = sorted(upd_ids)[0]
    got = new_rows[new_rows.vec_id == v].sort_values("rank").iloc[0]
    va = np.asarray(E.loc[v], dtype=float)[::-1]
    vb = np.asarray(E.loc[int(got.neighbor_id)], dtype=float)
    want = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)
    assert abs(got.cosine - want) < 1.5e-6

    # untouched-by-both rows == the plain delete output for those ids
    deleted = GA.q_knn_graph_delete(spark, SF).toPandas()
    touched = set(new_rows.neighbor_id) | upd_ids
    unt = sorted(set(deleted.vec_id) - touched)
    a = (
        out[out.vec_id.isin(unt)]
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    b = (
        deleted[deleted.vec_id.isin(unt)]
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a[["vec_id", "neighbor_id", "cosine", "rank"]],
        b[["vec_id", "neighbor_id", "cosine", "rank"]],
        check_dtype=False,
    )


def test_memo_matches_fresh(spark):
    """The session-scoped build memo returns the SAME object on a hit
    and its values are bit-identical to a fresh build — caching nine
    registry queries' identical inline builds cannot change any
    oracle row."""
    GA._BUILD_MEMO.clear()
    memo1 = GA.memo_graph_q8(spark, SF)
    memo2 = GA.memo_graph_q8(spark, SF)
    assert memo2 is memo1  # second call is a cache hit, no rebuild

    fresh = (
        GA.build_knn_graph_q8(load_table(spark, SF, "embeddings"))
        .toPandas()
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    got = (
        memo1.toPandas()
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, fresh, check_dtype=False)

    # the routed-centroid memo caches the literal list
    c1 = GA.memo_route_cents(spark, SF)
    c2 = GA.memo_route_cents(spark, SF)
    assert c1 is c2 and len(c1) == GA.ROUTE_K
