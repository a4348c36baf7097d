"""Classifier train / evaluate / persist / serve — the reference's
``model/`` package and both entry points, on spark.ml (not mllib).

Reference parity (file:line into /root/reference/src/main/java/com/actitracker/):
- DecisionTree: numClasses=6, gini, maxDepth=9, maxBins=32
  (model/DecisionTrees.java:27-34) -> ``DecisionTreeClassifier``.
- RandomForest: numTrees=10, "auto" subset, gini, maxDepth=9,
  maxBins=32, seed=12345 (model/RandomForests.java:29-38).
- Multinomial LR (LBFGS) (model/MultinomialLogisticRegression.java:27-32)
  -> ``LogisticRegression(family="multinomial")``.
- train/test 60/40 randomSplit (job/RecognizeActivity.java:133-135,
  fractions data/Constants.java:12-13); the reference leaves it
  unseeded — we pin seed=42 for reproducibility (M1).
- the feature frame is cached before the model fits
  (job/RecognizeActivity.java:134 parity — M2).
- error rate = filter(pred != label).count / test.count
  (model/DecisionTrees.java:39-43) — computed as a conditional mean.
- model sink/source (S5/S6): ``PipelineModel.save/load``
  (model/DecisionTrees.java:36, job/PredictActivity.java:31).
- serving (ML7): load a persisted model, predict one feature vector,
  return the class id (job/PredictActivity.java:28-40).

The training table is the flagship per-window feature frame from
plans/pipeline.py (driver ``events`` table: one value axis, so 5
features instead of the reference's 11; the column *roles* match
job/RecognizeActivity.java:171-185's layout).  ML results are not
SQL-expressible -> driver registers them as rows-only checks; exact
accuracy thresholds and seed-determinism are pinned by pytest.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    DecisionTreeClassifier,
    GBTClassifier,
    LogisticRegression,
    NaiveBayes,
    OneVsRest,
    RandomForestClassifier,
)
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import RANDOM_SEED, RF_SEED, TEST_FRACTION, TRAIN_FRACTION
from ..plans.pipeline import q_session_features

# Feature columns of the events-table pipeline (single value axis).
EVENTS_FEATURE_COLS = [
    "mean_v",
    "var_v",
    "avg_abs_diff_v",
    "resultant",
    "avg_time_peak",
]

_ALGOS = ("decision_tree", "random_forest", "logistic_regression")


def feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, features...) training table from the flagship query.

    ``var_v`` is NULL for single-sample windows (SQL var_samp); MLlib's
    summarizer returns 0.0 there (M-2 accumulator with n=1), so 0.0 is
    the parity fill.
    """
    feats = q_session_features(spark, sf_dir)
    return feats.select(
        "label", *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in EVENTS_FEATURE_COLS]
    )


def train_test_split(
    df: DataFrame, seed: int = RANDOM_SEED
) -> tuple[DataFrame, DataFrame]:
    """M1: seeded 60/40 split (reference is unseeded — nondeterministic
    accuracy between runs; we pin it)."""
    train, test = df.randomSplit([TRAIN_FRACTION, TEST_FRACTION], seed=seed)
    return train, test


def build_pipeline(algo: str) -> Pipeline:
    """VectorAssembler + classifier with the reference's hyperparams."""
    assembler = VectorAssembler(
        inputCols=EVENTS_FEATURE_COLS, outputCol="features"
    )
    if algo == "decision_tree":
        clf = DecisionTreeClassifier(
            labelCol="label",
            featuresCol="features",
            impurity="gini",
            maxDepth=9,
            maxBins=32,
            seed=RANDOM_SEED,
        )
    elif algo == "random_forest":
        clf = RandomForestClassifier(
            labelCol="label",
            featuresCol="features",
            numTrees=10,
            featureSubsetStrategy="auto",
            impurity="gini",
            maxDepth=9,
            maxBins=32,
            seed=RF_SEED,
        )
    elif algo == "logistic_regression":
        clf = LogisticRegression(
            labelCol="label", featuresCol="features", family="multinomial"
        )
    elif algo == "gbt":
        # ML4: dead code in the reference (imported, never called —
        # RecognizeActivity.java:10; and mllib GBT is binary-only, so
        # its numClasses=6 could never have worked,
        # GradientBoostedTree.java:31).  Multiclass needs OneVsRest.
        clf = OneVsRest(
            labelCol="label",
            featuresCol="features",
            classifier=GBTClassifier(
                maxIter=3, maxDepth=5, seed=RANDOM_SEED
            ),
        )
    elif algo == "naive_bayes":
        # ML5: dead code in the reference (never called; accelerometer
        # features are negative, which multinomial NB rejects —
        # NaiveBayesClassificationModel.java:30).  Valid only on
        # non-negative feature spaces.
        clf = NaiveBayes(
            labelCol="label", featuresCol="features", smoothing=1.0
        )
    else:
        raise ValueError(
            f"unknown algo {algo!r}; one of {_ALGOS + ('gbt', 'naive_bayes')}"
        )
    return Pipeline(stages=[assembler, clf])


def error_rate(predictions: DataFrame) -> float:
    """A10/P8: mean of (prediction != label) — one pass, no double
    count() (model/DecisionTrees.java:39-43 runs filter+count twice)."""
    row = predictions.agg(
        F.avg(
            F.when(F.col("prediction") != F.col("label"), 1.0).otherwise(0.0)
        ).alias("err")
    ).collect()[0]
    return float(row["err"])


def train_eval_all(
    spark: SparkSession,
    sf_dir: str,
    algos: tuple[str, ...] = _ALGOS,
) -> list[dict]:
    """Fit DT / RF / LR on one cached feature frame, evaluate each on
    the held-out 40% (job/RecognizeActivity.java:130-146)."""
    df = feature_frame(spark, sf_dir)
    train, test = train_test_split(df)
    # M2: one materialization feeds all fits (the reference caches the
    # LabeledPoint RDD before its three createModel calls).
    train = train.cache()
    test = test.cache()
    evaluator = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    )
    out = []
    try:
        for algo in algos:
            model = build_pipeline(algo).fit(train)
            preds = model.transform(test)
            acc = float(evaluator.evaluate(preds))
            out.append(
                {
                    "model": algo,
                    "accuracy": acc,
                    "error_rate": 1.0 - acc,
                    "n_train": train.count(),
                    "n_test": test.count(),
                }
            )
    finally:
        train.unpersist()
        test.unpersist()
    return out


_EVAL_SCHEMA = T.StructType(
    [
        T.StructField("model", T.StringType()),
        T.StructField("accuracy", T.DoubleType()),
        T.StructField("error_rate", T.DoubleType()),
        T.StructField("n_train", T.LongType()),
        T.StructField("n_test", T.LongType()),
    ]
)


def q_ml_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry (rows-only; not SQL-expressible): one row per
    trained model.  The result frame goes through
    ``spark.createDataFrame`` — the S3 local-collection source
    (job/RecognizeActivity.java:130 parity)."""
    rows = train_eval_all(spark, sf_dir)
    return spark.createDataFrame(rows, schema=_EVAL_SCHEMA)


def q_ml_predict_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML6 batch predict (model.transform over the held-out set),
    summarized as per-(label, prediction) counts — the confusion
    matrix, deterministic under the pinned seeds."""
    # M2: cache the feature frame — tree induction makes one pass per
    # depth level, and without the cache every pass re-runs the whole
    # sessionize→window→feature pipeline (RecognizeActivity.java:130
    # caches for the same reason).
    df = feature_frame(spark, sf_dir).cache()
    try:
        train, test = train_test_split(df)
        model = build_pipeline("decision_tree").fit(train)
        counts = (
            model.transform(test)
            .groupBy("label", "prediction")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # the confusion matrix is at most 6x6 rows: materialize it while
        # the cache still stands, so the returned frame outlives the
        # release
        return counts.localCheckpoint(eager=True)
    finally:
        df.unpersist()


def save_model(model: PipelineModel, path: str) -> None:
    """S5 model sink (model/DecisionTrees.java:36)."""
    model.write().overwrite().save(path)


def load_model(path: str) -> PipelineModel:
    """S6 model source (job/PredictActivity.java:31)."""
    return PipelineModel.load(path)


def predict_point(
    spark: SparkSession,
    model: PipelineModel,
    feature_values: list[float],
) -> float:
    """ML7 point-lookup serving: one feature vector -> class id
    (job/PredictActivity.java:28-40, hard-coded vector at :33)."""
    row_df = spark.createDataFrame(
        [tuple(float(v) for v in feature_values)], schema=EVENTS_FEATURE_COLS
    )
    pred = model.transform(row_df).select("prediction").collect()[0]
    return float(pred["prediction"])


# A deterministic "hard-coded" serving vector in the spirit of
# PredictActivity.java:33 (that one is 11-dim accelerometer values;
# ours matches the events feature space).
SERVING_VECTOR = [50.0, 900.0, 25.0, 50.0, 3600000.0]


def q_ml_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML7 + S5 + S6 round-trip as a driver query: train DT, save to a
    temp dir, load back, predict the fixed serving vector.  The vector
    is emitted as one scalar column per feature (not an array column —
    arrays crash the driver's rows-only canonicalization)."""
    import tempfile

    df = feature_frame(spark, sf_dir)
    train, _ = train_test_split(df)
    model = build_pipeline("decision_tree").fit(train)
    with tempfile.TemporaryDirectory(prefix="actitracker_model_") as tmp:
        path = f"{tmp}/decision_tree"
        save_model(model, path)
        loaded = load_model(path)
        label = predict_point(spark, loaded, SERVING_VECTOR)
    return spark.createDataFrame(
        [tuple(SERVING_VECTOR) + (float(label),)],
        schema=T.StructType(
            [
                T.StructField(f"f{i}", T.DoubleType())
                for i in range(len(SERVING_VECTOR))
            ]
            + [T.StructField("predicted_label", T.DoubleType())]
        ),
    )

