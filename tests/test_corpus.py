"""Corpus-construction operators: decontamination, sequence chunking
(distributed prefix sum vs a local reference), domain mixing, quality
funnel monotonicity, incremental dedup, and greedy-packing invariants.
"""

from __future__ import annotations

import re

from pyspark.sql import Row
from pyspark.sql import functions as F

from activity_classifier_spark_cassandra_spark.operators import corpus as C
from conftest import duckdb_frame

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                doc_id=i,
                text=t,
                lang="en",
                source=s,
                n_chars=len(t),
            )
            for i, t, s in rows
        ]
    )


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text) if t]


# ------------------------------------------------------ decontaminate
def test_decontaminate_flags_overlapping_doc(spark):
    # doc 0 (doc_id % 97 == 0) is the benchmark; doc 1 copies one of
    # its 3-grams, doc 2 shares nothing.
    docs = _docs(
        spark,
        [
            (0, "alpha beta gamma delta", "web"),
            (1, "zz alpha beta gamma yy", "web"),
            (2, "one two three four five", "web"),
        ],
    )
    sh = C.decontaminate(
        _shingle_rows_from(docs)
    ).toPandas().set_index("doc_id")
    # doc 1 has 3 shingles, overlap = {'alpha beta gamma'} plus the
    # shifted trigrams that include bench tokens but not full matches
    assert 1 in sh.index
    assert 2 not in sh.index
    assert sh.loc[1, "n_overlap"] == 1
    assert sh.loc[1, "n_shingles"] == 3
    assert abs(sh.loc[1, "overlap_frac"] - 1 / 3) < 1e-6


def _shingle_rows_from(docs):
    """(doc_id, sh) rows for an in-memory docs frame — same shape as
    dedup._doc_shingle_rows but over a provided frame."""
    from pyspark.sql import Window
    from activity_classifier_spark_cassandra_spark.operators.text import (
        _TOKENIZE_SPARK,
    )

    toks = docs.select(
        "doc_id", F.posexplode(F.expr(_TOKENIZE_SPARK)).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        toks.select(
            "doc_id",
            F.concat_ws(
                " ",
                F.col("tok"),
                F.lead("tok", 1).over(w),
                F.lead("tok", 2).over(w),
            ).alias("sh"),
            F.lead("tok", 2).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("doc_id", "sh")
        .distinct()
    )


def test_decontaminate_runs_on_testdata(spark):
    out = C.q_decontaminate(spark, SF_DIR)
    pdf = out.toPandas()
    # no benchmark doc may appear; fractions in (0, 1]
    assert (pdf["doc_id"] % C.BENCH_MOD != 0).all()
    if len(pdf):
        assert (pdf["overlap_frac"] > 0).all()
        assert (pdf["overlap_frac"] <= 1.0 + 1e-9).all()
        assert (pdf["n_overlap"] <= pdf["n_shingles"]).all()


# ---------------------------------------------------------- chunking
def test_chunk_sequences_matches_local_prefix_sum(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    cum = 0
    seqs: dict[int, list[int]] = {}
    for _, row in docs.iterrows():
        n = len(_tokens(row["text"]))
        seqs.setdefault(cum // C.SEQ_LEN, []).append((row["doc_id"], n))
        cum += n
    got = (
        C.q_chunk_sequences(spark, SF_DIR)
        .toPandas()
        .sort_values("seq_id")
        .set_index("seq_id")
    )
    assert len(got) == len(seqs)
    for seq_id, members in seqs.items():
        assert got.loc[seq_id, "n_docs"] == len(members)
        assert got.loc[seq_id, "n_tokens"] == sum(n for _, n in members)
        assert got.loc[seq_id, "first_doc_id"] == min(d for d, _ in members)
        assert got.loc[seq_id, "last_doc_id"] == max(d for d, _ in members)


def test_chunk_sequences_conserves_tokens(spark):
    got = C.q_chunk_sequences(spark, SF_DIR).toPandas()
    total = got["n_tokens"].sum()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    expect = sum(len(_tokens(t)) for t in docs["text"])
    assert total == expect
    # seq ids form a dense range
    assert sorted(got["seq_id"]) == list(range(len(got)))


# --------------------------------------------------------- domain mix
def test_domain_mix_weights(spark):
    docs = _docs(
        spark,
        [(0, "a", "web")] * 0
        + [(i, "x y", "web") for i in range(6)]
        + [(i + 10, "x y", "books") for i in range(2)],
    )
    out = C.domain_mix(docs).toPandas().set_index("source")
    assert out.loc["web", "n_docs"] == 6
    assert abs(out.loc["web", "doc_share"] - 0.75) < 1e-6
    # uniform target over 2 sources = 0.5 -> weight 0.5/0.75
    assert abs(out.loc["web", "mix_weight"] - 0.5 / 0.75) < 1e-6
    assert abs(out.loc["books", "mix_weight"] - 0.5 / 0.25) < 1e-6


# ------------------------------------------------------------ funnel
def test_quality_funnel_monotone(spark):
    out = (
        C.q_quality_funnel(spark, SF_DIR)
        .toPandas()
        .sort_values("stage")
        .reset_index(drop=True)
    )
    assert list(out["stage"]) == [s for s, _ in C._FUNNEL_STAGES]
    assert (out["n_docs"].diff().dropna() <= 0).all()
    assert (out["sum_chars"].diff().dropna() <= 0).all()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert out.loc[0, "n_docs"] == n_docs


# -------------------------------------------------- incremental dedup
def test_incremental_dedup_synthetic(spark):
    # batch = doc_id % 10 < 2; corpus = rest.
    # doc 0: duplicate of corpus doc 5 -> corpus dup
    # docs 1, 10: identical to each other, unseen -> one kept, one batch dup
    # doc 11: unique -> kept
    docs = _docs(
        spark,
        [
            (0, "copy of corpus", "web"),
            (1, "batch twin", "web"),
            (10, "batch twin", "web"),
            (11, "fresh text", "web"),
            (5, "copy of corpus", "web"),
            (6, "other corpus doc", "web"),
        ],
    )
    out = C.incremental_dedup(docs).toPandas().set_index("source")
    assert out.loc["web", "n_batch_docs"] == 4
    assert out.loc["web", "n_kept"] == 2  # doc 1 and doc 11
    assert out.loc["web", "n_batch_dups"] == 1  # doc 10
    assert out.loc["web", "n_corpus_dups"] == 1  # doc 0


# ------------------------------------------------------- greedy pack
def test_pack_greedy_invariants(spark):
    out = C.q_pack_greedy(spark, SF_DIR).toPandas()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    tok = {r["doc_id"]: len(_tokens(r["text"])) for _, r in docs.iterrows()}
    # every doc packed exactly once
    assert out["n_docs"].sum() == len(docs)
    # token conservation
    assert out["bin_tokens"].sum() == sum(tok.values())
    # no multi-doc bin exceeds capacity (singletons may, if oversize)
    multi = out[out["n_docs"] > 1]
    assert (multi["bin_tokens"] <= C.SEQ_LEN).all()
    # FFD quality: all but at most one bin per domain at least half full
    for dom, grp in out.groupby("domain"):
        under = (grp["bin_tokens"] < C.SEQ_LEN / 2).sum()
        assert under <= 1


def test_pack_greedy_matches_recursive_cte_oracle(spark):
    """The applyInPandas FFD packer must equal PACK_GREEDY_SQL's
    recursive-CTE replay bin for bin — if either side's ordering,
    capacity clamp, or first-fit probe drifts, this pins it between
    driver rounds."""
    sdf = (
        C.q_pack_greedy(spark, SF_DIR)
        .toPandas()
        .sort_values(["domain", "bin_id"])
        .reset_index(drop=True)
    )
    odf = (
        duckdb_frame(C.PACK_GREEDY_SQL, SF_DIR)
        .sort_values(["domain", "bin_id"])
        .reset_index(drop=True)
    )
    cols = ["domain", "bin_id", "n_docs", "bin_tokens", "min_doc_id"]
    assert list(sdf.columns) == cols and sorted(odf.columns) == sorted(cols)
    for c in cols:
        assert sdf[c].astype("int64").equals(odf[c].astype("int64")), c


def test_pack_greedy_deterministic(spark):
    a = (
        C.q_pack_greedy(spark, SF_DIR)
        .toPandas()
        .sort_values(["domain", "bin_id"])
        .reset_index(drop=True)
    )
    b = (
        C.q_pack_greedy(spark, SF_DIR)
        .toPandas()
        .sort_values(["domain", "bin_id"])
        .reset_index(drop=True)
    )
    assert a.equals(b)


# ------------------------------------------------ temperature sample
def test_temperature_sample_properties(spark):
    out = (
        C.q_temperature_sample(spark, SF_DIR)
        .toPandas()
        .set_index("source")
    )
    # smallest domain is kept whole (rate 1.0), larger ones thinned
    smallest = out["n_docs"].idxmin()
    assert out.loc[smallest, "rate"] == 1.0
    assert (out["rate"] <= 1.0).all()
    # monotone: bigger domains never get a higher rate
    s = out.sort_values("n_docs")
    assert s["rate"].is_monotonic_decreasing or len(s) <= 1
    # no domain oversampled, none emptied by the threshold at sf0.001
    assert (out["n_sampled"] <= out["n_docs"]).all()
    assert (out["n_sampled"] > 0).all()


def test_temperature_sample_flattens_skewed_mix(spark):
    """On a 10:1 skewed mix the head's sampled share must drop
    toward its ^alpha-flattened target (sqrt at alpha=0.5)."""
    docs = _docs(
        spark,
        [(i, f"doc {i}", "web") for i in range(200)]
        + [(1000 + i, f"doc {i}", "books") for i in range(20)],
    )
    out = C.temperature_sample(docs).toPandas().set_index("source")
    assert out.loc["books", "rate"] == 1.0
    assert abs(out.loc["web", "rate"] - (20 / 200) ** 0.5) < 1e-6
    raw = out.loc["web", "n_docs"] / out["n_docs"].sum()
    samp = out.loc["web", "n_sampled"] / out["n_sampled"].sum()
    assert samp < raw
    # hash thinning tracks the rate (binomial-ish, generous band)
    assert abs(out.loc["web", "n_sampled"] - 200 * out.loc["web", "rate"]) < 40


def test_temperature_sample_deterministic(spark):
    a = C.q_temperature_sample(spark, SF_DIR).toPandas()
    b = C.q_temperature_sample(spark, SF_DIR).toPandas()
    assert a.sort_values("source").reset_index(drop=True).equals(
        b.sort_values("source").reset_index(drop=True)
    )
