"""ML layer tests (ML1-ML3, ML6-ML7, S5, S6, M1): learnability on a
separable synthetic set, seed determinism, and the save/load/serve
round-trip.  The driver's events table has no label signal (labels are
random w.r.t. features), so accuracy-above-chance is asserted on a
constructed separable dataset — that is what tests the machinery."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from activity_classifier_spark_cassandra_spark.ml.models import (
    EVENTS_FEATURE_COLS,
    build_pipeline,
    error_rate,
    load_model,
    predict_point,
    q_ml_serve,
    save_model,
    train_eval_all,
    train_test_split,
)

SF001 = "/root/testdata/sf0.001"

SCHEMA = T.StructType(
    [T.StructField("label", T.DoubleType())]
    + [T.StructField(c, T.DoubleType()) for c in EVENTS_FEATURE_COLS]
)


@pytest.fixture(scope="module")
def separable(spark):
    """3 well-separated classes in the 5-feature space."""
    rows = []
    centers = {0.0: 0.0, 1.0: 100.0, 2.0: 200.0}
    for label, c in centers.items():
        for i in range(60):
            jit = (i % 7) - 3.0
            rows.append(
                (label, c + jit, c + 2 * jit, c - jit, c + 0.5 * jit, c)
            )
    return spark.createDataFrame(rows, schema=SCHEMA)


@pytest.mark.parametrize(
    "algo", ["decision_tree", "random_forest", "logistic_regression"]
)
def test_learns_separable_classes(spark, separable, algo):
    train, test = train_test_split(separable)
    model = build_pipeline(algo).fit(train)
    preds = model.transform(test)
    assert error_rate(preds) < 0.1  # >90% on trivially separable data


def test_train_eval_deterministic_under_seeds(spark):
    """M1: pinned seeds (split=42, RF=12345 per RandomForests.java:38)
    give identical metrics across runs."""
    a = train_eval_all(spark, SF001, algos=("decision_tree", "random_forest"))
    b = train_eval_all(spark, SF001, algos=("decision_tree", "random_forest"))
    assert a == b


def test_save_load_roundtrip(spark, separable, tmp_path):
    """S5/S6: persisted model predicts identically after reload."""
    train, test = train_test_split(separable)
    model = build_pipeline("decision_tree").fit(train)
    path = str(tmp_path / "decision_tree")
    save_model(model, path)
    loaded = load_model(path)
    orig = [r["prediction"] for r in model.transform(test).collect()]
    redo = [r["prediction"] for r in loaded.transform(test).collect()]
    assert orig == redo


def test_predict_point_serving(spark, separable):
    """ML7: single-vector serving returns the class whose center the
    vector sits on (PredictActivity.java:28-40 shape)."""
    train, _ = train_test_split(separable)
    model = build_pipeline("decision_tree").fit(train)
    assert predict_point(spark, model, [0.0, 0.0, 0.0, 0.0, 0.0]) == 0.0
    assert predict_point(spark, model, [100.0] * 5) == 1.0
    assert predict_point(spark, model, [200.0] * 5) == 2.0


def test_q_ml_serve_end_to_end(spark):
    """The driver-registered serve query: train -> save -> load ->
    predict one row; label must be one of the 5 event-type classes."""
    row = q_ml_serve(spark, SF001).collect()[0]
    assert row["predicted_label"] in {0.0, 1.0, 2.0, 3.0, 4.0}


def test_gbt_onevsrest_learns(spark, separable):
    """ML4 (dead code in the reference, binary-only there): GBT wrapped
    in OneVsRest for 3 classes."""
    train, test = train_test_split(separable)
    model = build_pipeline("gbt").fit(train)
    assert error_rate(model.transform(test)) < 0.1


def test_naive_bayes_learns_nonnegative(spark):
    """ML5 (dead code in the reference): multinomial NB needs
    non-negative features and separates on feature *proportions* —
    give each class its mass on a different feature."""
    rows = []
    for label in (0.0, 1.0, 2.0):
        for i in range(60):
            jit = float(i % 7)
            feats = [1.0 + jit] * 5
            feats[int(label)] = 100.0 + jit
            rows.append((label, *feats))
    df = spark.createDataFrame(rows, schema=SCHEMA)
    train, test = train_test_split(df)
    model = build_pipeline("naive_bayes").fit(train)
    assert error_rate(model.transform(test)) < 0.2
