"""Streaming ingest for the persisted graph index
(streaming/ann_index.py): drained stream == composed batch CRUD.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from activity_classifier_spark_cassandra_spark.operators import graph_ann as GA
from activity_classifier_spark_cassandra_spark.sources.io import load_table
from activity_classifier_spark_cassandra_spark.streaming import ann_index as AI

SF = "/root/testdata/sf0.001"


def _sorted(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)[["vec_id", "neighbor_id", "cosine", "rank"]]
    )


def test_stream_ingest_equals_batch_update(spark):
    """Draining the two-micro-batch op stream (delete the newest
    batch, insert its re-embedded vectors) over the saved index
    yields EXACTLY the one-shot update_graph_embeddings graph —
    batching-invariance, the property that lets the registry query
    share q_knn_graph_update's hash oracle."""
    got = _sorted(AI.q_stream_graph_ingest(spark, SF))
    want = _sorted(GA.q_knn_graph_update(spark, SF))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_apply_index_ops_single_batch_invariant(spark):
    """A re-embed arriving as ONE micro-batch (delete + insert rows
    together) composes to the same graph as two batches / the batch
    op: deletes apply first by convention."""
    emb = load_table(spark, SF, "embeddings")
    graph0 = GA.memo_graph_q8(spark, SF)
    batch, _ = GA._split_insert_batch(emb)
    elem = (
        dict(emb.dtypes)["embedding"]
        .removeprefix("array<")
        .removesuffix(">")
    )
    ops = batch.select(
        F.lit("delete").alias("op"),
        "vec_id",
        F.lit(None).cast(f"array<{elem}>").alias("embedding"),
    ).unionByName(
        batch.select(
            F.lit("insert").alias("op"),
            "vec_id",
            F.reverse("e").cast(f"array<{elem}>").alias("embedding"),
        )
    )
    _, graph2 = AI.apply_index_ops(
        emb.select("vec_id", "embedding"), graph0, ops
    )
    want = _sorted(GA.q_knn_graph_update(spark, SF))
    pd.testing.assert_frame_equal(
        _sorted(graph2), want, check_dtype=False
    )


def test_trigger_adopts_corpus_left_as_old_by_crashed_swap(spark, tmp_path):
    """A crash between the corpus swap's rename-aside and rename-in
    leaves the standing corpus only as ``corpus.old``.  The next
    trigger must adopt it before reading the state, then apply its
    ops exactly as on an intact state."""
    import shutil

    emb = load_table(spark, SF, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    graph0 = GA.memo_graph_q8(spark, SF)
    batch, _ = GA._split_insert_batch(emb)
    elem = (
        dict(emb.dtypes)["embedding"]
        .removeprefix("array<")
        .removesuffix(">")
    )
    ops = batch.select(
        F.lit("delete").alias("op"),
        "vec_id",
        F.lit(None).cast(f"array<{elem}>").alias("embedding"),
    ).localCheckpoint(eager=True)

    state = tmp_path / "state"
    corpus.write.parquet(str(state / "corpus"))
    graph0.write.parquet(str(state / "graph"))
    shutil.move(str(state / "corpus"), str(state / "corpus.old"))

    AI.foreach_batch_index_updater(str(state))(ops, 0)

    assert (state / "corpus").exists()
    assert not (state / "corpus.old").exists()
    _, want = AI.apply_index_ops(corpus, graph0, ops)
    got = spark.read.parquet(str(state / "graph"))
    pd.testing.assert_frame_equal(
        _sorted(got), _sorted(want), check_dtype=False
    )
    n_left = spark.read.parquet(str(state / "corpus")).count()
    assert n_left == corpus.count() - ops.count()
