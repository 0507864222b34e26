"""The flagship estimator chain as a Structured Streaming job.

The reference's operational model is "image file arrives → one Luigi task
run" (reference start.sh:3-4, tasks.py:16-17); its streaming-native form
is a file-arrival micro-batch source feeding the SAME declarative
estimator chain the batch flagship uses
(operators/asof_interp.estimate_events). The whole chain is stateless —
projections plus the broadcast range-join against the 7-row calibration
segments — so it streams without watermarks or state stores, and the
stream-static inner join keeps the zero-shuffle posture: every
micro-batch is mask→clamp→interp→derive, exactly once (checkpointed), at
whatever rate files land.

Parity is the point: ``tests/test_streaming.py`` drains this stream with
``Trigger.AvailableNow`` and asserts the output rows EQUAL the batch
``queue_estimate`` over the same directory — the batch/stream
equivalence Structured Streaming promises for stateless plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.asof_interp import estimate_events
from .file_stream import read_events_stream


def queue_estimate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming flagship: the full estimator chain on the event stream."""
    return estimate_events(read_events_stream(spark, sf_dir))


def drain_to_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """AvailableNow drain: process everything currently in the source,
    exactly once per file (checkpointed), then stop — the batch-sized
    unit of a continuously-running deployment."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
