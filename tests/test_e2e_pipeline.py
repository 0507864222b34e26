"""Capstone integration test — the reference's whole two-task DAG
(PreprocessImage → EstimateQueue, reference doc/queue_time_predictions.dot)
as one Spark flow, mirroring the reference's own mocked-integration test
(estimate_queue_test.py:103-133: run the pipeline, read the sink back,
assert every output column's range).

images dir → binaryFile scan → mask/crop/normalize/featurize (mapInPandas)
→ features parquet (partitioned) → re-read → three scoring heads over the
feature vector → estimator chain → last-write-wins upsert sink → read back.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gjenbruksstasjoner_kotid_estimering_spark.functions import estimator as est
from gjenbruksstasjoner_kotid_estimering_spark.operators.upsert import (
    apply_upserts,
)
from gjenbruksstasjoner_kotid_estimering_spark.sources import images as im
from gjenbruksstasjoner_kotid_estimering_spark.sources import jpeg


def _score_heads(features_df):
    """Deterministic linear stand-in heads over the 512-float feature
    vector (the reference's three keras models, estimate_queue.py:24-28;
    weights absent upstream so scoring is pluggable by design)."""
    arr = F.transform("features", lambda x: x.cast("double"))
    mean_of = lambda a: F.aggregate(  # noqa: E731
        a, F.lit(0.0), lambda acc, x: acc + x
    ) / F.size(a)
    m = mean_of(arr)  # normalized pixels → m ∈ [0, 1]
    return features_df.select(
        "station_id",
        "epoch",
        (m * 1400.0).alias("queue_end_pos"),
        F.when(m > 0.5, 1.0).otherwise(0.0).alias("queue_lanes"),
        F.least(F.greatest(m, F.lit(0.0)), F.lit(1.0)).alias("queue_full"),
    )


def test_full_reference_dag(spark, tmp_path):
    # --- stage 0: camera frames land under a prefix (reference O1) ---
    frames = [
        (41, "20200506T094000"),
        (41, "20200506T095000"),
        (41, "20200506T095000"),  # duplicate arrival → upsert must dedup
        (7, "20210101T120000"),
    ]
    imgdir = tmp_path / "frames"
    imgdir.mkdir()
    for i, (sid, t) in enumerate(frames):
        # same name for the duplicate pair → same content, same key
        (imgdir / f"station_id_{sid}_{t}.jpg").write_bytes(
            jpeg.encode(im._synthetic_frame(i), quality=90)
            if i != 2
            else (imgdir / "station_id_41_20200506T095000.jpg").read_bytes()
        )

    # --- stage 1: PreprocessImage (reference preprocess_image.py:198-205) ---
    feats = im.preprocess_images(im.read_images(spark, str(imgdir)))
    feat_dir = tmp_path / "features"
    im.write_features(feats, str(feat_dir))

    # --- stage 2: EstimateQueue (reference estimate_queue.py:181-192) ---
    features = spark.read.parquet(str(feat_dir)).where(
        F.col("station_id").isNotNull()
    )
    preds = _score_heads(features)
    estimated = est.with_queue_estimate(preds, spark)

    # --- stage 3: keyed upsert sink (reference estimate_queue.py:166-178) ---
    records = estimated.select(
        "station_id",
        F.col("epoch").cast("string").alias("ts_key"),
        "queue_end_pos",
        "queue_lanes",
        "queue_full",
        "cars",
        "expected_queue_time",
    ).withColumn("seq", F.lit(1))
    target = spark.createDataFrame([], records.schema)
    sink = apply_upserts(
        target, records, key_cols=["station_id", "ts_key"], order_cols=["seq"]
    )
    sink_dir = tmp_path / "predictions"
    sink.write.mode("overwrite").parquet(str(sink_dir))

    # --- read back and assert like the reference's integration test ---
    back = spark.read.parquet(str(sink_dir)).collect()
    # 3 distinct (station, ts) keys — duplicate arrival collapsed
    assert len(back) == 3
    keys = {(r.station_id, r.ts_key) for r in back}
    assert (41, "1588750800") in keys  # the golden Europe/Oslo epoch
    for r in back:
        # range asserts mirroring estimate_queue_test.py:124-133
        assert r.queue_end_pos >= 0.0
        assert r.queue_lanes in (0.0, 1.0)
        assert 0.0 <= r.queue_full <= 1.0
        assert r.cars >= 0.0
        assert r.expected_queue_time == pytest.approx(r.cars / 74.0)
