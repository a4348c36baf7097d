"""Round-7 operators: the composed IVF-PQ index (residual product
quantization inside probed IVF lists) — determinism, stored-form
semantics, the recall-vs-scan-budget claim from the round-6 verdict,
and DuckDB oracle parity."""

from __future__ import annotations

import math


import __spark_entry__ as entrymod
from pyspark.sql import functions as F

from activity_classifier_spark_cassandra_spark.operators.similarity import (
    IVFPQ_NPROBE,
    K_TRAIN,
    PQ_K,
    ivfpq_search,
    q_knn_brute,
    q_knn_ivfpq,
    q_knn_pq,
    train_ivfpq,
)
from activity_classifier_spark_cassandra_spark.sources.io import load_table
from conftest import assert_same_rows, duckdb_frame

SF_DIR = "/root/testdata/sf0.001"


# --------------------------------------------------------- IVF-PQ index

def _recall_vs_brute(spark, df):
    """Mean recall@5 against the exact brute-force top-5."""
    truth: dict[int, set] = {}
    for r in q_knn_brute(spark, SF_DIR).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set] = {}
    for r in df.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    return sum(
        len(got.get(q, set()) & n) / len(n) for q, n in truth.items()
    ) / len(truth)


def test_ivfpq_training_is_deterministic(spark):
    """Two trainings yield identical coarse centroids and codebooks —
    the chained-CTE oracle replay depends on this."""
    emb = load_table(spark, SF_DIR, "embeddings")
    a_coarse, a_cbs, a_resid = train_ivfpq(emb)
    b_coarse, b_cbs, b_resid = train_ivfpq(emb)
    a_resid.unpersist()
    b_resid.unpersist()
    assert a_coarse == b_coarse
    assert a_cbs == b_cbs
    assert sorted(k for k, _ in a_coarse) == list(range(K_TRAIN))
    for cb in a_cbs:
        assert sorted(k for k, _ in cb) == list(range(PQ_K))


def test_ivfpq_semantics_on_testdata(spark):
    """Stored-form invariants: exact rescoring can never beat the
    brute-force best (the index only restricts candidates); ADC
    distances are non-negative and rank-consistent; every returned
    bucket is one of the query's probed lists."""
    brute_best = {
        r.query_id: r.cosine
        for r in q_knn_brute(spark, SF_DIR).collect()
        if r.rank == 1
    }
    rows = q_knn_ivfpq(spark, SF_DIR).collect()
    assert rows
    by_q: dict[int, list] = {}
    buckets: dict[int, set] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        assert r.adc_dist >= 0
        assert r.cosine_exact <= brute_best[r.query_id] + 1e-9
        assert 0 <= r.bucket < K_TRAIN
        by_q.setdefault(r.query_id, []).append(r.adc_dist)
        buckets.setdefault(r.query_id, set()).add(r.bucket)
    for dists in by_q.values():
        assert dists == sorted(dists)  # rank follows ADC ascending
    for bs in buckets.values():
        assert len(bs) <= IVFPQ_NPROBE


def test_ivfpq_recall_geq_pq_at_smaller_scan_budget(spark):
    """The verdict's acceptance bar: on the SAME corpus, IVF-PQ must
    reach at-least PQ-only recall@5 while scanning STRICTLY fewer
    vectors per query — residual codebooks don't waste their entropy
    re-describing the coarse structure, and probing prunes the scan."""
    r_pq = _recall_vs_brute(spark, q_knn_pq(spark, SF_DIR))
    r_ivfpq = _recall_vs_brute(spark, q_knn_ivfpq(spark, SF_DIR))
    assert r_ivfpq >= r_pq

    # scan budget: PQ-only ADC-scans the whole corpus per query;
    # IVF-PQ scans only the nprobe probed lists
    emb = load_table(spark, SF_DIR, "embeddings")
    n_corpus = emb.count()
    _, _, resid = train_ivfpq(emb)
    sizes = {
        r.bucket: r.c
        for r in resid.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    resid.unpersist()
    worst_probe = sum(sorted(sizes.values(), reverse=True)[:IVFPQ_NPROBE])
    assert worst_probe < n_corpus


def test_ivfpq_residual_codes_beat_raw_codes_on_clustered_data(spark):
    """Structural strict improvement on 4 well-separated clusters: raw
    PQ codebooks spend their codes re-describing the cluster layout
    (two clusters even share x≈0 / y≈0 subspace values), while
    residual codebooks only encode within-cluster variation, so with
    the SAME code budget IVF-PQ resolves within-cluster neighbors
    strictly better."""
    pts = []
    vid = 0
    for centre in (0.0, 90.0, 180.0, 270.0):
        for off in range(-7, 9, 2):
            a = math.radians(centre + off)
            pts.append((vid, [round(math.cos(a), 6), round(math.sin(a), 6)]))
            vid += 1
    emb = spark.createDataFrame(
        pts, "vec_id long, embedding array<double>"
    )
    # exact top-5 for query 0 by cosine (2-d unit vectors → by angle)
    import numpy as np

    vecs = {i: np.array(v) for i, v in pts}
    q = vecs[0]
    sims = sorted(
        ((float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), i)
         for i, v in vecs.items() if i != 0),
        key=lambda t: (-t[0], t[1]),
    )
    true5 = {i for _, i in sims[:5]}

    coarse, cbs, resid = train_ivfpq(emb)
    got_ivfpq = {
        r.neighbor_id
        for r in ivfpq_search(emb, coarse, cbs, n_queries=1, k=5).collect()
    }
    resid.unpersist()

    # PQ-only on the same frame: reuse q_knn_pq's building blocks via
    # raw-vector codebooks + full-corpus ADC (nprobe = all buckets)
    from activity_classifier_spark_cassandra_spark.operators.similarity import (
        train_pq_codebooks,
    )

    raw_cbs = train_pq_codebooks(emb)
    # emulate PQ-only with the ivfpq machinery: a single coarse cell
    # (centroid at origin) makes residual == raw vector and probing a
    # no-op, so the SAME search code runs plain PQ
    one_cell = [(0, [0.0, 0.0])]
    got_pq = {
        r.neighbor_id
        for r in ivfpq_search(
            emb, one_cell, raw_cbs, n_queries=1, k=5, nprobe=1
        ).collect()
    }
    r_ivfpq = len(got_ivfpq & true5) / 5.0
    r_pq = len(got_pq & true5) / 5.0
    assert r_ivfpq > r_pq


def test_ivfpq_oracle_parity_sf0001(spark):
    """Spark vs DuckDB chained-MATERIALIZED-CTE replay, value-exact."""
    q = entrymod.queries()["q_knn_ivfpq"]
    sql = entrymod.oracle_sql()["q_knn_ivfpq"]
    assert_same_rows(q(spark, SF_DIR).toPandas(), duckdb_frame(sql, SF_DIR))


# ------------------------------------------- retrieval: RRF + MMR

def test_rrf_score_formula_and_ranks(spark):
    """Every fused row's rrf_score must equal the closed-form rank
    arithmetic, hybrid ranks must be 1..10 without gaps, and rank 0
    must mean 'absent from that list' (never both 0)."""
    from activity_classifier_spark_cassandra_spark.operators.retrieval import (
        RRF_K,
        q_hybrid_search_rrf,
    )

    rows = q_hybrid_search_rrf(spark, SF_DIR).collect()
    assert sorted(r.hybrid_rank for r in rows) == list(range(1, 11))
    for r in rows:
        assert (r.lex_rank, r.dense_rank) != (0, 0)
        want = (1.0 / (RRF_K + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (RRF_K + r.dense_rank) if r.dense_rank else 0.0
        )
        assert abs(r.rrf_score - round(want, 6)) < 1e-12
    # fused order is non-increasing in score
    by_rank = sorted(rows, key=lambda r: r.hybrid_rank)
    scores = [r.rrf_score for r in by_rank]
    assert scores == sorted(scores, reverse=True)


def test_mmr_matches_independent_replay(spark):
    """Greedy MMR replayed independently in the test (sequential-fold
    cosines over the raw parquet vectors, integer-scaled scores) must
    select the same docs in the same order with the same scores."""
    import duckdb as _d

    from activity_classifier_spark_cassandra_spark.operators.retrieval import (
        DENSE_QUERY_ID,
        MMR_CAND,
        MMR_LAMBDA_NUM,
        MMR_SELECT,
        q_mmr_rerank,
    )

    vecs = {
        int(r[0]): [float(x) for x in r[1]]
        for r in _d.sql(
            f"SELECT vec_id, CAST(embedding AS DOUBLE[])"
            f" FROM '{SF_DIR}/embeddings.parquet'"
        ).fetchall()
    }

    def cos(u, v):
        d = n1 = n2 = 0.0
        for x, y in zip(u, v):  # sequential fold, the engines' order
            d += x * y
            n1 += x * x
            n2 += y * y
        import math as _m

        return round(d / (_m.sqrt(n1) * _m.sqrt(n2)), 6)

    q = vecs[DENSE_QUERY_ID]
    rel = {
        i: cos(q, v) for i, v in vecs.items() if i != DENSE_QUERY_ID
    }
    cand = sorted(rel, key=lambda i: (-rel[i], i))[:MMR_CAND]
    rel_e6 = {i: round(rel[i] * 1e6) for i in cand}
    sim_e6 = {
        (a, b): round(cos(vecs[a], vecs[b]) * 1e6)
        for a in cand
        for b in cand
        if a != b
    }
    lam, mu = MMR_LAMBDA_NUM, 10 - MMR_LAMBDA_NUM
    picked = [(max(rel_e6, key=lambda d: (rel_e6[d], -d)), 0)]
    while len(picked) < MMR_SELECT:
        chosen = {d for d, _ in picked}
        best = None
        for d in cand:
            if d in chosen:
                continue
            ms = max(sim_e6[(d, p)] for p, _ in picked)
            key = (lam * rel_e6[d] - mu * ms, -d)
            if best is None or key > best[0]:
                best = (key, d, ms)
        picked.append((best[1], best[2]))
    want = [
        (d, i + 1, lam * rel_e6[d] - mu * ms)
        for i, (d, ms) in enumerate(picked)
    ]

    got = sorted(q_mmr_rerank(spark, SF_DIR).collect(), key=lambda r: r.mmr_rank)
    assert [(r.doc_id, r.mmr_rank, r.mmr_score_e7) for r in got] == want
    # rank 1 is the raw-relevance argmax with zero redundancy
    assert got[0].max_sim_prev_e6 == 0
    assert got[0].relevance == max(r.relevance for r in got)
