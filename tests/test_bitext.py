"""Margin-based bitext mining: numpy full replay, the hub-discount
property the margin exists for, the batch contract, and the
full-corpus miner against its DuckDB oracle."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row

from activity_classifier_spark_cassandra_spark.operators import bitext as BT
from conftest import assert_same_rows, duckdb_frame

SF = "/root/testdata/sf0.001"


def _replay(E: dict[int, np.ndarray], k: int, batch_below: int):
    """Pure-python mine_bitext replay over {vec_id: vector}."""
    def c6(a, b):
        c = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        return int(np.floor(c * 1_000_000))

    src = {i: v for i, v in E.items() if i % 2 == 0}
    tgt = {i: v for i, v in E.items() if i % 2 == 1}
    out = {}
    for x in sorted(src):
        if x >= batch_below:
            continue
        scores = sorted(
            ((c6(src[x], tgt[y]), -y) for y in tgt), reverse=True
        )
        sum_x = sum(c for c, _ in scores[:k])
        c_best, y_best = scores[0][0], -scores[0][1]
        back = sorted(
            ((c6(tgt[y_best], src[s]), -s) for s in src), reverse=True
        )
        sum_y = sum(c for c, _ in back[:k])
        margin = (
            round(2 * k * c_best / (sum_x + sum_y), 6)
            if sum_x + sum_y > 0
            else None
        )
        out[x] = (
            y_best,
            round(c_best / 1e6, 6),
            margin,
            (margin or 0.0) >= BT.BT_THRESHOLD,
        )
    return out


def test_bitext_numpy_replay_sf0001(spark):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    E = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
         for r in t.itertuples()}
    want = _replay(E, BT.BT_K, 2 * BT.BT_BATCH)
    got = {
        int(r.src_id): (
            int(r.tgt_id),
            round(float(r.cosine), 6),
            None if r.margin is None else round(float(r.margin), 6),
            bool(r.mined),
        )
        for r in BT.q_bitext_mine(spark, SF).collect()
    }
    assert got == want


def test_bitext_hub_discount(spark):
    """THE property the margin exists for: a hub target moderately
    close to every source is each single source's best raw-cosine
    candidate, but — because the source also has near-tied echo
    candidates and the hub's own neighborhood is uniformly close —
    its ratio margin stays ~1 and the pair is NOT mined, while the
    genuine pair clears the threshold comfortably.

    Exact geometry (dim 16, unit basis e_i): sources x_i = e_i
    (i = 0..4); hub = all-ones/4, so cos(x_i, hub) = 0.25 for every
    source; each single source i >= 1 gets three echo targets
    a*e_i + sqrt(1-a^2)*e_{10+j} with a in {0.24, 0.23, 0.22} (just
    below the hub's 0.25); x_0's genuine partner is e_0 itself."""
    dim = 16
    basis = np.eye(dim)

    def unit(v):
        return [float(x) for x in v / np.linalg.norm(v)]

    rows = [Row(vec_id=2 * i, embedding=unit(basis[i])) for i in range(5)]
    tid = 1
    rows.append(Row(vec_id=tid, embedding=unit(basis[0])))  # genuine
    tid += 2
    rows.append(Row(vec_id=tid, embedding=unit(np.ones(dim))))  # hub
    hub_id = tid
    tid += 2
    for i in range(1, 5):
        for j, a in enumerate((0.24, 0.23, 0.22)):
            v = a * basis[i] + float(np.sqrt(1 - a * a)) * basis[10 + j]
            rows.append(Row(vec_id=tid, embedding=unit(v)))
            tid += 2
    emb = spark.createDataFrame(rows)
    src = emb.filter(emb.vec_id % 2 == 0)
    tgt = emb.filter(emb.vec_id % 2 == 1)
    out = {
        int(r.src_id): r
        for r in BT.mine_bitext(src, tgt, batch_ids_below=10).collect()
    }
    # x0's best is its genuine partner, mined with a wide margin
    assert out[0].tgt_id == 1 and bool(out[0].mined)
    # every single source's best raw-cosine candidate IS the hub...
    hub_rows = [out[2 * i] for i in range(1, 5)]
    assert all(r.tgt_id == hub_id for r in hub_rows)
    # ...but the margin discounts it below the mining threshold
    assert not any(bool(r.mined) for r in hub_rows)
    assert all(r.margin < BT.BT_THRESHOLD for r in hub_rows)
    assert out[0].margin > max(r.margin for r in hub_rows)


def test_bitext_batch_contract(spark):
    df = BT.q_bitext_mine(spark, SF).toPandas()
    assert len(df) == BT.BT_BATCH
    assert df.src_id.is_unique
    assert (df.src_id % 2 == 0).all()
    assert (df.tgt_id % 2 == 1).all()
    assert df.margin.notna().all()


def test_bitext_corpus_contract(spark):
    """Full-corpus mining: exactly one row per SOURCE sentence, the
    forward-best comes from one of the source's probed target cells,
    and the mined flag is margin >= threshold."""
    from activity_classifier_spark_cassandra_spark.operators.similarity import (
        _D2_FOLD,
        _assign_expr,
        _cents_literal,
        train_kmeans_centroids,
    )
    from pyspark.sql import functions as F

    out = BT.q_bitext_mine_corpus(spark, SF).toPandas()
    src, tgt = BT._sides(spark, SF)
    n_src = src.count()
    assert len(out) == n_src
    assert out.src_id.is_unique
    assert (out.src_id % 2 == 0).all() and (out.tgt_id % 2 == 1).all()
    m = out.margin.fillna(0.0)
    assert ((m >= BT.BT_THRESHOLD) == out.mined).all()
    assert out.mined.any()           # the threshold actually splits
    assert (~out.mined).any()

    # candidate validity: each src's best tgt sits in a probed cell
    cents = train_kmeans_centroids(tgt, k=BT.BT_CELLS)
    lit = _cents_literal(cents)
    assign = {
        r.vec_id: r.b
        for r in tgt.select(
            "vec_id", F.expr(_assign_expr(lit)).alias("b")
        ).collect()
    }
    probed = {
        r.src_id: set(r.cells)
        for r in src.select(
            F.col("vec_id").alias("src_id"),
            F.expr(
                f"transform(array_sort(transform({lit}, c -> named_struct("
                f"'d2', {_D2_FOLD.format(x='embedding', c='c.c')},"
                f" 'k', c.k))), s -> s.k)"
            ).alias("ranked"),
        )
        .select(
            "src_id",
            F.slice("ranked", 1, BT.BT_NPROBE).alias("cells"),
        )
        .collect()
    }
    for r in out.itertuples():
        assert assign[int(r.tgt_id)] in probed[int(r.src_id)], r


def test_bitext_corpus_matches_duckdb_oracle(spark):
    """The registry's full-corpus miner hash-matches its DuckDB replay
    (per-side Lloyd's as chained CTEs, probed-cell scans, integer
    margins)."""
    got = BT.q_bitext_mine_corpus(spark, SF).toPandas()
    assert_same_rows(got, duckdb_frame(BT.BITEXT_MINE_CORPUS_SQL, SF))
    assert len(got) > 0
