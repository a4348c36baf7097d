"""Round-6 operators: trained-centroid IVF (recall strictly improves
with nprobe on ONE trained index), the full BPE merge loop (hand fixture
+ fold-vs-greedy equivalence), CDC delete tombstones (delete-then-
reinsert ordering), int8 quantization (roundtrip bound), hard negatives
and ANN recall eval — plus DuckDB oracle parity for all six."""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod
from activity_classifier_spark_cassandra_spark.operators.cdc import upsert_with_deletes
from activity_classifier_spark_cassandra_spark.operators.similarity import (
    int8_quantize,
    ivf_trained_search,
    train_kmeans_centroids,
)
from activity_classifier_spark_cassandra_spark.operators.text import (
    _BPE_MERGE_FOLD,
    _sql_str,
    bpe_merges,
)
from conftest import assert_same_rows, duckdb_frame

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------- BPE merge loop

def test_bpe_merges_hand_fixture(spark):
    """Sennrich et al.'s worked corpus, 3 merges, hand-computed:
    round 1 ties (e,s)=9 with (s,t)=9 -> left-asc tie-break picks
    (e,s); round 3 ties (l,o)=7 with (o,w)=7 -> picks (l,o)."""
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    got = [
        (r.merge_round, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_merges(docs, n_merges=3).orderBy("merge_round").collect()
    ]
    assert got == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "l", "o", "lo", 7),
    ]


def _greedy_merge(toks: list[str], a: str, b: str) -> list[str]:
    """Leftmost-greedy non-overlapping pair merge — the textbook BPE
    apply step the Spark fold must reproduce."""
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def test_bpe_fold_matches_greedy(spark):
    """The left-fold merge expression equals the greedy scan on every
    adversarial token sequence, including overlapping-candidate runs
    ('aaa' under (a,a)) and merge-output-collides-with-input shapes."""
    import itertools

    cases = [list(t) for n in range(0, 6)
             for t in itertools.product("ab", repeat=n)]
    cases += [list("aabab"), list("ababa"), ["ab", "a", "b", "ab"]]
    for pair in [("a", "a"), ("a", "b"), ("b", "a")]:
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(cases)],
            "id long, toks array<string>",
        )
        fold = _BPE_MERGE_FOLD.format(
            PA=_sql_str(pair[0]), PB=_sql_str(pair[1])
        )
        got = {
            r.id: list(r.m)
            for r in df.selectExpr("id", f"{fold} AS m").collect()
        }
        for i, toks in enumerate(cases):
            assert got[i] == _greedy_merge(toks, *pair), (pair, toks)


# ------------------------------------------------- trained-centroid IVF

def _vec(deg: float) -> list[float]:
    r = math.radians(deg)
    return [round(math.cos(r), 6), round(math.sin(r), 6)]


def test_trained_ivf_recall_strictly_improves_with_nprobe(spark):
    """On ONE trained index (k=2 Lloyd's, seeds = two lowest vec_ids),
    nprobe=2 must recall strictly more of the query's true top-5 than
    nprobe=1, and reach 100% — the query's neighborhood straddles the
    two trained clusters by construction (angles 0-20 vs 70-90, query
    at 42)."""
    pts = {0: 42.0,
           1: 0.0, 2: 5.0, 3: 10.0, 4: 15.0, 5: 20.0,
           6: 90.0, 7: 85.0, 8: 80.0, 9: 75.0, 10: 70.0}
    emb = spark.createDataFrame(
        [(i, _vec(d)) for i, d in pts.items()],
        "vec_id long, embedding array<double>",
    )
    cents = train_kmeans_centroids(emb, k=2, iters=2)
    true_top5 = set(
        sorted((i for i in pts if i != 0),
               key=lambda i: (abs(pts[i] - 42.0), i))[:5]
    )
    got = {}
    for nprobe in (1, 2):
        rows = ivf_trained_search(
            emb, cents, n_queries=1, k=5, nprobe=nprobe
        ).collect()
        got[nprobe] = {r.neighbor_id for r in rows}
    r1 = len(got[1] & true_top5) / 5.0
    r2 = len(got[2] & true_top5) / 5.0
    assert r1 < 1.0
    assert r2 == 1.0
    assert r2 > r1


def test_train_kmeans_is_deterministic(spark):
    """Two trainings on the same frame yield bit-identical centroids
    (the cross-engine replay in the oracle depends on this)."""
    emb = spark.createDataFrame(
        [(i, _vec(7.0 * i)) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    a = train_kmeans_centroids(emb, k=3, iters=2)
    b = train_kmeans_centroids(emb, k=3, iters=2)
    assert a == b
    assert sorted(k for k, _ in a) == [0, 1, 2]


# --------------------------------------------- CDC delete tombstones

def test_upsert_with_deletes_delete_then_reinsert(spark):
    """The ordering trap: a D at version 1 removes key 2, but a
    reinsert at version 2 must resurrect it with the NEW value; key 3
    whose latest change is the tombstone stays dead."""
    changes = spark.createDataFrame(
        [
            (1, "a", 0, "I"),
            (2, "b", 0, "I"), (2, None, 1, "D"), (2, "b2", 2, "I"),
            (3, "c", 0, "I"), (3, "c1", 1, "U"), (3, None, 2, "D"),
        ],
        "k long, v string, version long, op string",
    )
    got = {
        r.k: (r.v, r.version)
        for r in upsert_with_deletes(changes, ["k"], "version", "op").collect()
    }
    assert got == {1: ("a", 0), 2: ("b2", 2)}


# ------------------------------------------------- int8 quantization

def test_int8_quantize_roundtrip_bound(spark):
    """Dequantized values land within half a quantization step of the
    original; max-|v| components hit exactly ±127; all-zero vectors
    quantize to (0, scale 0)."""
    emb = spark.createDataFrame(
        [
            (1, [0.5, -0.25, 0.125, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-1.0, 1.0, 0.003, -0.997]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = int8_quantize(emb).collect()
    vecs = {1: [0.5, -0.25, 0.125, 0.0],
            2: [0.0, 0.0, 0.0, 0.0],
            3: [-1.0, 1.0, 0.003, -0.997]}
    for r in rows:
        v = vecs[r.vec_id][r.dim - 1]
        if r.vec_id == 2:
            assert r.qval == 0 and r.scale == 0.0
            continue
        assert -127 <= r.qval <= 127
        assert abs(v - r.qval * r.scale) <= r.scale / 2 + 1e-9
        if abs(v) == max(abs(x) for x in vecs[r.vec_id]):
            assert abs(r.qval) == 127


# ------------------------------- hard negatives / ANN recall eval

def test_hard_negatives_cross_label_only(spark):
    from activity_classifier_spark_cassandra_spark.operators.similarity import (
        q_hard_negatives,
        q_knn_brute,
    )

    brute_best = {
        r.query_id: r.cosine
        for r in q_knn_brute(spark, SF_DIR).collect()
        if r.rank == 1
    }
    rows = q_hard_negatives(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.neighbor_label != r.query_label
        # restricting to other-label candidates can never beat the
        # unrestricted brute-force best for the same query
        assert r.cosine <= brute_best[r.query_id] + 1e-9


def test_ann_recall_eval_bounds(spark):
    from activity_classifier_spark_cassandra_spark.operators.similarity import (
        TOP_K,
        q_ann_recall_eval,
    )

    rows = q_ann_recall_eval(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_hits <= TOP_K
        assert abs(r.recall - r.n_hits / TOP_K) < 1e-9


# ------------------------------------------------- oracle parity

@pytest.mark.parametrize(
    "name",
    [
        "q_knn_ivf_trained",
        "q_bpe_merges",
        "q_bpe_tokenize",
        "q_upsert_with_deletes",
        "q_int8_quantize",
        "q_ann_recall_eval",
        "q_hard_negatives",
        "q_knn_int8",
        "q_contrastive_triplets",
        "q_knn_pq",
        "q_drift_psi",
        "q_dedup_recall_eval",
        "q_bpe_compression",
    ],
)
def test_round6_matches_duckdb_oracle(spark, name):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duckdb_frame(entrymod.oracle_sql()[name], SF_DIR)
    assert_same_rows(sdf, odf, rtol=1e-9, atol=1e-9)


def test_bpe_tokenize_vocab_counts_hand_fixture(spark):
    """Apply-step vocabulary counts on the Sennrich corpus after 3
    merges (es, est, lo), hand-computed from the merged word types."""
    from pyspark.sql import functions as F

    from activity_classifier_spark_cassandra_spark.operators.text import bpe_train

    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    _, w = bpe_train(docs, n_merges=3)
    got = {
        r.token: r.n
        for r in w.select(F.explode("toks").alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").alias("n"))
        .collect()
    }
    assert got == {"lo": 7, "w": 16, "e": 8, "r": 2,
                   "n": 6, "est": 9, "i": 3, "d": 3}


def test_knn_int8_scores_bound_exact(spark):
    """Quantized cosine must track the exact cosine within the SQ8
    error bound on real data: per returned row,
    |cosine_q - cosine_exact| stays small (dim=8, 1/127 steps), and
    ranking by cosine_q keeps every neighbor's exact score within that
    bound of the exact top-1."""
    from activity_classifier_spark_cassandra_spark.operators.similarity import (
        q_knn_brute,
        q_knn_int8,
    )

    rows = q_knn_int8(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert abs(r.cosine_q - r.cosine_exact) < 0.05, r
    brute_best = {
        r.query_id: r.cosine
        for r in q_knn_brute(spark, SF_DIR).collect()
        if r.rank == 1
    }
    for r in rows:
        assert r.cosine_exact <= brute_best[r.query_id] + 1e-9


def test_contrastive_triplets_semantics(spark):
    """Each anchor's positive carries the anchor's label, the negative
    a different one, and margin is exactly cos_pos - cos_neg (rounded);
    the negative must equal the top hard negative."""
    from activity_classifier_spark_cassandra_spark.operators.similarity import (
        q_contrastive_triplets,
        q_hard_negatives,
    )

    hard1 = {
        r.query_id: r.neighbor_id
        for r in q_hard_negatives(spark, SF_DIR).collect()
        if r.rank == 1
    }
    rows = q_contrastive_triplets(spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.positive_id != r.negative_id
        assert abs(r.margin - round(r.cos_pos - r.cos_neg, 6)) < 1e-9
        assert r.negative_id == hard1[r.query_id]


def test_pq_codes_and_rescoring_semantics(spark):
    """PQ: every code lies in [0, PQ_K); the exact-rescored cosine of a
    returned candidate can never beat the brute-force best (PQ only
    restricts and reorders candidates, it cannot invent better ones);
    ADC distances are non-negative and rank-consistent."""
    from activity_classifier_spark_cassandra_spark.operators.similarity import (
        PQ_K,
        q_knn_brute,
        q_knn_pq,
        train_pq_codebooks,
    )
    from activity_classifier_spark_cassandra_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    for cb in train_pq_codebooks(emb):
        assert sorted(k for k, _ in cb) == list(range(PQ_K))

    brute_best = {
        r.query_id: r.cosine
        for r in q_knn_brute(spark, SF_DIR).collect()
        if r.rank == 1
    }
    rows = q_knn_pq(spark, SF_DIR).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        assert r.adc_dist >= 0
        assert r.cosine_exact <= brute_best[r.query_id] + 1e-9
        by_q.setdefault(r.query_id, []).append(r.adc_dist)
    for dists in by_q.values():
        assert dists == sorted(dists)  # rank follows ADC ascending


def test_drift_psi_identical_halves_are_flat(spark):
    """A stream whose two time-halves draw the same values must show
    ~zero psi_contrib in every bin; shifting the second half's values
    must produce large contributions — and all 10 bins exist."""
    from activity_classifier_spark_cassandra_spark.operators.dq import (
        PSI_BINS,
        q_drift_psi,
    )
    import activity_classifier_spark_cassandra_spark.operators.dq as dqmod
    from pyspark.sql import functions as F

    def run(shift):
        rows = []
        for i in range(400):
            v = (i % 100) / 10.0
            rows.append(("t", i * 1000, v))                 # ref half
            rows.append(("t", 10_000_000 + i * 1000, v + shift))  # cur half
        ev = spark.createDataFrame(rows, "event_type string, ms long, value double")
        # replicate q_drift_psi's body on a hand-built frame
        bounds = ev.agg(((F.min("ms") + F.max("ms")) / F.lit(2)).cast("long").alias("mid"))
        d = ev.crossJoin(F.broadcast(bounds)).withColumn("is_ref", F.col("ms") < F.col("mid"))
        ref_range = d.filter("is_ref").groupBy("event_type").agg(
            F.min("value").alias("vmin"), F.max("value").alias("vmax"))
        width = (F.col("vmax") - F.col("vmin")) / F.lit(float(PSI_BINS))
        binned = (d.join(F.broadcast(ref_range), "event_type")
            .withColumn("bin", F.least(F.lit(PSI_BINS - 1), F.greatest(F.lit(0),
                F.floor((F.col("value") - F.col("vmin")) / width).cast("int"))))
            .groupBy("event_type", "bin")
            .agg(F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
                 F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("n_cur")))
        totals = binned.groupBy("event_type").agg(
            F.sum("n_ref").alias("tot_ref"), F.sum("n_cur").alias("tot_cur"))
        p_ref = (F.col("n_ref") + 1) / (F.col("tot_ref") + PSI_BINS)
        p_cur = (F.col("n_cur") + 1) / (F.col("tot_cur") + PSI_BINS)
        out = (binned.join(F.broadcast(totals), "event_type")
               .select("bin", F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6)
                       .alias("psi_contrib")))
        return {r.bin: r.psi_contrib for r in out.collect()}

    flat = run(0.0)
    assert set(flat) == set(range(PSI_BINS))
    assert all(abs(c) < 1e-6 for c in flat.values())
    shifted = run(5.0)
    assert sum(shifted.values()) > 0.5  # gross drift detected

    # and the registered query runs against real data with full bins
    rows = q_drift_psi(spark, SF_DIR).collect()
    assert rows and all(0 <= r.bin < PSI_BINS for r in rows)


def test_dedup_recall_eval_bounds_and_multiband(spark):
    """Registered eval: recovered <= truth and recall in [0,1] on real
    data; on a synthetic corpus with engineered overlap levels the
    banding produces multiple jaccard bands and near-total recall in
    the high band (r=1/b=16 banding: P(candidate) = 1-(1-j)^16)."""
    from activity_classifier_spark_cassandra_spark.operators.dedup import (
        q_dedup_recall_eval,
    )

    rows = q_dedup_recall_eval(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_recovered <= r.n_truth
        assert 0.0 <= r.recall <= 1.0

    # engineered corpus: base doc of 40 words; copies replacing
    # 0/10/20/30 words -> pairs across several jaccard bands
    base = [f"w{i}" for i in range(40)]
    docs = []
    for d, repl in enumerate([0, 0, 10, 20, 30]):
        words = list(base)
        for j in range(repl):
            words[j] = f"r{d}_{j}"
        docs.append((d, " ".join(words)))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    import tempfile

    with tempfile.TemporaryDirectory() as td:
        sdf.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        out = {
            r.jacc_band: (r.n_truth, r.recall)
            for r in q_dedup_recall_eval(spark, td).collect()
        }
    assert len(out) >= 2          # multiple similarity bands present
    top_band = max(out)
    assert out[top_band][1] == 1.0  # exact copies always recovered
