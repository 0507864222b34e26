"""Custom stateful streaming: applyInPandasWithState and its
transformWithStateInPandas twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from gjenbruksstasjoner_kotid_estimering_spark.streaming import file_stream as fs
from gjenbruksstasjoner_kotid_estimering_spark.streaming.stateful import (
    stateful_station_tracker,
)

SF = "/root/testdata/sf0.001"


def test_stateful_tracker_matches_batch(spark, tmp_path):
    stream = stateful_station_tracker(fs.read_events_stream(spark, SF))
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .format("memory")
        .queryName("tracker_out")
        .start()
    )
    q.awaitTermination()
    # latest emitted row per user (n_events is monotone across micro-batches)
    out = spark.table("tracker_out")
    got = {
        r.user_id: r
        for r in sorted(out.collect(), key=lambda r: (r.user_id, r.n_events))
    }  # later (larger n_events) rows overwrite earlier in the dict
    from gjenbruksstasjoner_kotid_estimering_spark.io import load_table

    truth = {
        r.user_id: r
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("value").alias("mx"))
        .collect()
    }
    assert set(got) == set(truth)
    for uid, t in truth.items():
        assert got[uid].n_events == t.n_events
        assert got[uid].max_value == t.mx


def test_transform_with_state_tracker_matches_batch(spark, tmp_path):
    """Spark-4 transformWithStateInPandas twin: same running aggregates,
    typed ValueState, RocksDB provider (required by the API)."""
    import pytest

    from gjenbruksstasjoner_kotid_estimering_spark.streaming.stateful import (
        stateful_station_tracker_tws,
    )

    if stateful_station_tracker_tws is None:
        pytest.skip("transformWithStateInPandas not available")
    # the tws state-server protocol speaks protobuf from the Python side;
    # absent in this container (no installs) — runs in a full environment
    pytest.importorskip("google.protobuf.descriptor")
    fs.use_rocksdb_state(spark)
    try:
        stream = stateful_station_tracker_tws(fs.read_events_stream(spark, SF))
        q = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .outputMode("update")
            .format("memory")
            .queryName("tracker_tws_out")
            .start()
        )
        q.awaitTermination()
        out = spark.table("tracker_tws_out")
        got = {
            r.user_id: r
            for r in sorted(out.collect(), key=lambda r: (r.user_id, r.n_events))
        }
        from gjenbruksstasjoner_kotid_estimering_spark.io import load_table

        truth = {
            r.user_id: r
            for r in load_table(spark, SF, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), F.max("value").alias("mx"))
            .collect()
        }
        assert set(got) == set(truth)
        for uid, t in truth.items():
            assert got[uid].n_events == t.n_events
            assert got[uid].max_value == t.mx
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming."
            "state.HDFSBackedStateStoreProvider",
        )
