"""Streaming ingest for the persisted ANN graph index.

Closes the index lifecycle the way sessions/dedup/URL close theirs:
the batch CRUD trio (``insert_into_graph`` / ``delete_from_graph`` /
their composition) becomes a ``foreachBatch`` sink over the SAVED
index, so a production deployment points a Kafka/file stream of
``(op, vec_id, embedding)`` rows at the standing index instead of
scheduling batch jobs.  Each micro-batch applies the EXISTING bounded
batch operators — deletes first, then inserts (the convention that
makes a re-embed arrive as one delete+insert pair in any batching) —
and swaps the state tables with the rename-aside protocol of
``streaming/incremental.py`` (``recover_state`` / ``swap_in``).

Batching-invariance, the property the parity pytest pins: the batch
ops only read corpus rows that are ALIVE at application time (delete
scores bridge pairs among survivors; insert beam-searches the updated
corpus), so composing (delete D, insert I) across one micro-batch or
two yields the SAME graph as the one-shot batch
``update_graph_embeddings`` — bit-exact, which is why the registry
query shares ``q_knn_graph_update``'s hash oracle.

Scale shape: per-trigger work is |batch|-bounded exactly like the
batch CRUD (|affected|·K + |D|·K² + |I|·BEAM·HOPS scored rows); state
I/O is one read + one rewrite of the thin edge table per trigger —
at production scale the state lives in a transactional format
(Delta/Iceberg MERGE) with the same algebra, as documented for the
daily-state maintainer.

Reference parity: the reference engine (776-LoC Spark 1.3 RDD batch
jobs, /root/reference/src/main/java/com/actitracker/) has no
streaming or index surface; this is LLM-data-pipeline extension
scope (SURVEY.md §2.12).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.iterate import RoundLoop
from .incremental import recover_state, swap_in

OPS_SCHEMA_FMT = "op string, vec_id long, embedding array<{elem}>"


def apply_index_ops(
    corpus: DataFrame,
    graph: DataFrame,
    batch: DataFrame,
    has_delete: bool | None = None,
    has_insert: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Apply one micro-batch of (op, vec_id, embedding) rows to the
    (corpus, graph) state: deletes first, then inserts.  Returns the
    new (corpus, graph) — pure frames, no I/O.  ``has_delete`` /
    ``has_insert`` let a caller that already probed the batch skip
    the per-op existence jobs; None means probe here (one combined
    aggregate over the bounded batch — a single driver fetch instead
    of two limit(1).count() jobs)."""
    from ..operators.graph_ann import delete_from_graph, insert_into_graph

    if has_delete is None or has_insert is None:
        row = batch.agg(
            F.max((F.col("op") == "delete").cast("int")).alias("d"),
            F.max((F.col("op") == "insert").cast("int")).alias("i"),
        ).collect()[0]
        has_delete = bool(row.d)
        has_insert = bool(row.i)
    dels = batch.filter(F.col("op") == "delete").select("vec_id")
    ins = batch.filter(F.col("op") == "insert").select(
        "vec_id", "embedding"
    )
    if has_delete:
        graph = delete_from_graph(corpus, graph, dels)
        corpus = corpus.join(
            F.broadcast(dels), "vec_id", "left_anti"
        )
    if has_insert:
        corpus = corpus.unionByName(ins)
        graph = insert_into_graph(
            corpus,
            graph,
            ins.select("vec_id", F.col("embedding").alias("e")),
        )
    return corpus, graph


def foreach_batch_index_updater(state_path: str):
    """``foreachBatch`` function maintaining ``{state}/corpus`` and
    ``{state}/graph`` parquet tables under arriving index ops."""

    def _update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # each trigger is one round: its |batch|-bounded checkpoint
        # carries the op-mix probe (emptiness + which ops) as observed
        # metrics, and both checkpoints are freed once the swaps land
        with RoundLoop("stream_index") as loop:
            for _ in loop.rounds([batch_id]):
                batch = loop.checkpoint(
                    batch_df,
                    d=F.max((F.col("op") == "delete").cast("int")),
                    i=F.max((F.col("op") == "insert").cast("int")),
                )
                has_delete = bool(loop.stats["d"])
                has_insert = bool(loop.stats["i"])
                if not (has_delete or has_insert):
                    return
                # adopt a table a crashed swap left only as .old
                # BEFORE reading it
                recover_state(f"{state_path}/corpus")
                recover_state(f"{state_path}/graph")
                corpus = spark.read.parquet(f"{state_path}/corpus")
                graph = spark.read.parquet(f"{state_path}/graph")
                corpus2, graph2 = apply_index_ops(
                    corpus, graph, batch,
                    has_delete=has_delete, has_insert=has_insert,
                )
                # Only the GRAPH must be materialized before the swaps:
                # its plan reads BOTH old parquet state tables that the
                # swaps rename away.  The corpus swap itself writes
                # corpus.new while the old state is still in place
                # (swap_in renames only after the write completes), so
                # corpus2 streams straight into its parquet write — one
                # materialization per trigger saved vs checkpointing both.
                graph2 = loop.checkpoint(graph2)
                swap_in(corpus2, f"{state_path}/corpus")
                swap_in(graph2, f"{state_path}/graph")

    return _update


def stream_index_ingest(
    ops_stream: DataFrame, state_path: str, checkpoint: str
):
    """Start the availableNow ingest (drain-the-source; a long-lived
    deployment swaps in a processing-time trigger, same sink)."""
    return (
        ops_stream.writeStream.foreachBatch(
            foreach_batch_index_updater(state_path)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def q_stream_graph_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a two-micro-batch op stream — delete the DELETE_BATCH
    newest vec_ids, then insert their re-embedded (reversed) vectors —
    over the SAVED full-corpus SQ8 index, and return the final graph
    state.  Batching-invariance makes this bit-equal to
    ``q_knn_graph_update``, whose hash oracle it shares."""
    import os
    import tempfile
    import uuid

    from ..operators.graph_ann import (
        _split_insert_batch,
        memo_graph_q8,
    )
    from ..sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    graph0 = memo_graph_q8(spark, sf_dir)
    batch, _ = _split_insert_batch(emb)
    elem = dict(emb.dtypes)["embedding"].removeprefix("array<").removesuffix(">")

    root = os.path.join(
        tempfile.gettempdir(), f"acsc_graph_ingest_{uuid.uuid4().hex}"
    )
    state, ops_dir, ckpt = (
        os.path.join(root, "state"),
        os.path.join(root, "ops"),
        os.path.join(root, "ckpt"),
    )
    try:
        emb.select("vec_id", "embedding").write.parquet(
            f"{state}/corpus"
        )
        graph0.write.parquet(f"{state}/graph")
        # one file per micro-batch; order-invariant by design, but
        # written arrival-ordered (deletes, then re-embeds)
        batch.select(
            F.lit("delete").alias("op"),
            "vec_id",
            F.lit(None).cast(f"array<{elem}>").alias("embedding"),
        ).coalesce(1).write.parquet(ops_dir)
        batch.select(
            F.lit("insert").alias("op"),
            "vec_id",
            F.reverse("e").cast(f"array<{elem}>").alias("embedding"),
        ).coalesce(1).write.mode("append").parquet(ops_dir)

        ops = (
            spark.readStream.schema(OPS_SCHEMA_FMT.format(elem=elem))
            .option("maxFilesPerTrigger", 1)
            .parquet(ops_dir)
        )
        q = stream_index_ingest(ops, state, ckpt)
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "q_stream_graph_ingest: availableNow drain did not"
                " finish within 600s"
            )
        return spark.read.parquet(f"{state}/graph").localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
