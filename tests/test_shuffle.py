"""Deterministic corpus shuffling: permutation quality and epoch
independence."""

from __future__ import annotations

from activity_classifier_spark_cassandra_spark.operators import shuffle as SH

SF_DIR = "/root/testdata/sf0.001"


def test_shuffle_is_reproducible_and_epoch_dependent(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def order(epoch):
        return [
            r["doc_id"]
            for r in docs.select(
                "doc_id", SH.shuffle_key(docs.doc_id, epoch).alias("k")
            )
            .orderBy("k", "doc_id")
            .collect()
        ]

    e1, e1b, e2 = order(1), order(1), order(2)
    assert e1 == e1b  # same epoch -> identical permutation
    assert e1 != e2  # new epoch -> fresh permutation
    assert sorted(e1) == sorted(e2)  # both are permutations


def test_shuffle_actually_shuffles(spark):
    """The epoch order must not correlate with doc_id order: the
    first 10% of the permutation should NOT be the first 10% of ids."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ids = [
        r["doc_id"]
        for r in docs.select(
            "doc_id", SH.shuffle_key(docs.doc_id, 3).alias("k")
        )
        .orderBy("k", "doc_id")
        .limit(10)
        .collect()
    ]
    assert ids != sorted(ids)
