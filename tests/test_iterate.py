"""RoundLoop (operators/iterate.py) and the loops built on it: round
tags, release order, release on error paths, observed statistics equal
to the actions they replace, and the guard that keeps new loops on the
helper."""

from __future__ import annotations

import re
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from activity_classifier_spark_cassandra_spark.operators import coreset as CS
from activity_classifier_spark_cassandra_spark.operators import graph as G
from activity_classifier_spark_cassandra_spark.operators import graph_ann as GA
from activity_classifier_spark_cassandra_spark.operators import retrieval as RET
from activity_classifier_spark_cassandra_spark.operators import similarity as SIM
from activity_classifier_spark_cassandra_spark.operators.iterate import RoundLoop
from activity_classifier_spark_cassandra_spark.sources.io import load_table
from activity_classifier_spark_cassandra_spark.streaming.ann_index import (
    foreach_batch_index_updater,
)

SF = "/root/testdata/sf0.001"
PKG = Path(__file__).resolve().parents[1] / "activity_classifier_spark_cassandra_spark"

# Raw localCheckpoint/persist/unpersist/cache calls allowed outside
# the helper.  None is a round loop: each materializes one frame read
# by several plan branches, or a result that must outlive its scratch
# input (temp dir, memory sink, released cache).
_ALLOWED = {
    "streaming/ann_index.py": 1,  # final state, before its temp dir goes
    "streaming/dedup.py": 1,  # result, before the memory sink is dropped
    "operators/dedup.py": 1,  # _shared signature tables
    # build memo, insert batch, insert/policy/update results
    "operators/graph_ann.py": 5,
    "operators/text.py": 2,  # KN type table, perplexity scores
    "operators/projection.py": 2,  # projected corpus, pair frame
    "operators/multimodal.py": 2,  # per-frame hashes
    "operators/graph.py": 1,  # triangle count's pair frame
    "operators/manifest.py": 1,  # manifest rows
    # MMR candidates (and release), NDCG truth ranking (its release, the result)
    "operators/retrieval.py": 5,
    # IVF-PQ residuals, their release (error path, query), the result
    "operators/similarity.py": 4,
    "sources/io.py": 4,  # round-trip results over scratch files
    "ml/models.py": 7,  # model-fit caches, their release, the confusion matrix
}


def test_no_raw_materialization_outside_round_loop():
    # ``.cache()`` but not ``RoundLoop.cache(frame)``
    raw = re.compile(r"\.(localCheckpoint|persist|unpersist)\(|\.cache\(\)")
    counts = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        lines = path.read_text().splitlines()
        n = sum(bool(raw.search(x)) and not x.lstrip().startswith("#") for x in lines)
        if n and rel != "operators/iterate.py":
            counts[rel] = n
    # a new loop must use RoundLoop; a stale entry would hide the next one
    assert counts == _ALLOWED


def _stored(sc) -> set[int]:
    """Ids of RDDs holding cached or checkpointed blocks."""
    return {i.id() for i in sc._jsc.sc().getRDDStorageInfo() if i.numCachedPartitions()}


def _new_blocks(sc, before: set[int], timeout: float = 30.0) -> set[int]:
    """RDDs stored now but not ``before``, once async releases settle."""
    deadline = time.time() + timeout
    while (extra := _stored(sc) - before) and time.time() < deadline:
        time.sleep(0.2)
    return extra


def _assert_leaves_only_its_result(spark, query) -> None:
    """After its result is read, the only block ``query`` leaves
    stored is its own result checkpoint."""
    sc = spark.sparkContext
    before = _stored(sc)
    out = query(spark, SF)
    assert out.count() > 0
    plan = out._jdf.queryExecution().analyzed()
    checkpointed = plan.getClass().getSimpleName() == "LogicalRDD"
    own = {plan.rdd().id()} if checkpointed else set()
    assert not _new_blocks(sc, before | own)


def test_ivfpq_query_releases_its_residual_cache(spark):
    """q_knn_ivfpq trains on a cached residual frame and releases it."""
    _assert_leaves_only_its_result(spark, SIM.q_knn_ivfpq)


def test_ndcg_query_releases_its_truth_ranking(spark):
    """q_ndcg_eval reads its persisted truth ranking twice (DCG join,
    IDCG aggregate) and releases it."""
    _assert_leaves_only_its_result(spark, RET.q_ndcg_eval)


def test_round_loop_tags_rounds_and_frees_each_round_after_the_next(spark):
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    before = _stored(sc)
    tags, ids = [], []
    try:
        with RoundLoop("probe") as loop:
            tags.append(sc.getLocalProperty("spark.job.description"))
            state = spark.range(100).withColumn("x", F.col("id") % 7)
            for i in loop.rounds([1, 2, 3]):
                tags.append(sc.getLocalProperty("spark.job.description"))
                state = loop.checkpoint(state.withColumn("x", F.col("x") + 1), t=F.sum("x"))
                assert loop.stats["t"] == sum(j % 7 + i for j in range(100))
                ids.append(state._jdf.queryExecution().analyzed().rdd().id())
                live = _new_blocks(sc, before, timeout=10)
                assert ids[-1] in live and not set(ids[:-1]) & live
        assert tags == ["probe:setup", "probe:round 1", "probe:round 2", "probe:round 3"]
        assert sc.getLocalProperty("spark.job.description") == "outer"
        assert not _new_blocks(sc, before)
    finally:
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize(
    "op, fault_round", [("nn_descent", 2), ("beam", 2), ("beam", 4), ("kcenter", 2)]
)
def test_fault_mid_loop_releases_every_block(spark, monkeypatch, op, fault_round):
    """A fault in a round leaves none of the loop's rounds, pinned
    inputs or caches in storage."""
    sc = spark.sparkContext
    emb = load_table(spark, SF, "embeddings")
    graph = GA.memo_graph_q8(spark, SF)
    before = _stored(sc)
    real = RoundLoop.rounds

    def rounds(self, ids):
        for i in real(self, ids):
            if i == fault_round:
                raise RuntimeError(f"injected fault in round {i}")
            yield i

    monkeypatch.setattr(RoundLoop, "rounds", rounds)
    run = {
        "nn_descent": lambda: GA.build_knn_graph_q8(emb),
        "beam": lambda: GA.beam_search(emb, graph),
        "kcenter": lambda: CS.kcenter_select(emb),
    }[op]
    with pytest.raises(RuntimeError, match="injected fault"):
        run()
    assert not _new_blocks(sc, before)


def test_observed_statistics_equal_the_actions_they_replace(spark, monkeypatch, tmp_path):
    """Every observed statistic equals the separate action the loop used
    to run on the just-materialized round."""
    checks = []
    real = RoundLoop.checkpoint

    def replay(self, df, **metrics):
        done = real(self, df, **metrics)
        if not metrics:
            return done
        got, want = self.stats, done.agg(*(c.alias(k) for k, c in metrics.items()))
        want = want.first().asDict()
        if self.name == "nn_descent_q8":
            want = {"updates": done.filter(F.col("old") == 0).count()}
        elif self.name == "kcenter":
            top = done.orderBy(F.col("md2").desc(), F.col("vec_id").asc()).first()
            far = got["far"]
            got = (far.md2, -far.nv, list(far.embedding))
            want = (top.md2, top.vec_id, list(top.embedding))
        checks.append((self.name, got, want))
        return done

    monkeypatch.setattr(RoundLoop, "checkpoint", replay)
    emb = load_table(spark, SF, "embeddings")
    GA.build_knn_graph_q8(emb, iters=2).count()
    CS.kcenter_select(emb, k=4)
    SIM.train_power_iteration(emb, iters=2)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)], "src long, dst long"
    )
    G.connected_components_star(edges).count()
    # the trigger's op-mix probe: unknown ops stop at the probe; a
    # delete+insert batch passes it, then fails on the missing state
    update = foreach_batch_index_updater(str(tmp_path / "no-state"))
    ops = "op string, vec_id long, embedding array<float>"
    update(spark.createDataFrame([("noop", 1, None)], ops), 0)
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        batch = [("delete", 1, None), ("insert", 2, [1.0])]
        update(spark.createDataFrame(batch, ops), 1)

    assert {name for name, _, _ in checks} == {
        "nn_descent_q8",
        "kcenter",
        "power_iteration",
        "connected_components_star",
        "stream_index",
    }
    assert [got for name, got, _ in checks if name == "stream_index"] == [
        {"d": 0, "i": 0},
        {"d": 1, "i": 1},
    ]
    for name, got, want in checks:
        assert got == want, name
