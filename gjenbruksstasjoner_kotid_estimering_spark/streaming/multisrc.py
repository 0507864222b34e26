"""Round-8 wave C — multi-source streaming and state-store introspection.

Two TRUE-streaming rows, both oracle-checked:

- ``stream_union_sources_true``: one windowed aggregate fed by TWO
  heterogeneous streaming sources (a parquet feed and a JSONL feed),
  each with its OWN watermark before the union — so the aggregate's
  effective watermark is the MIN of the per-source watermarks (Spark's
  multipleWatermarkPolicy=min default), and the oracle states exactly
  that: the cutoff is min(per-feed max ts) − delay, not the global max.
- ``stream_statestore_reader``: after an append-mode windowed-aggregate
  drain, the retained checkpoint is read back with the Spark 4 State
  Data Source (``spark.read.format("statestore")``) — the operator's
  internal state as a batch DataFrame. Append mode evicts a window when
  the watermark passes its end, so state holds EXACTLY the still-open
  windows (end > final watermark), which is SQL-statable: the oracle is
  the complement of stream_tumbling_window_true's cutoff.

Grounding: the reference pipeline is a perpetual incremental consumer
(tasks.py:32-41 memoizes per-date; estimate_queue.py re-scores on each
arrival). Multi-feed ingestion and state introspection are the two
operational surfaces such a pipeline needs at fleet scale: federating
format-heterogeneous feeds without two pipelines, and debugging what a
stateful operator is actually holding without replaying the stream.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..scratch import new_scratch_dir
from ..session import scoped_shuffle_partitions
from .file_stream import read_events_stream
from .windows import WM_DELAY, _drain_to_memory

# micros must survive the JSONL hop: the default JSON timestamp format
# truncates to milliseconds, which would desync the jsonl feed's
# watermark from the oracle's microsecond max(ts)
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import load_table

    return load_table(spark, sf_dir, "events")


@register(
    "stream_union_sources_true",
    oracle="""
        WITH wm AS (
          SELECT min(mx) - INTERVAL 30 MINUTE AS w
          FROM (SELECT max(ts) AS mx FROM events GROUP BY user_id % 2)
        )
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT)
                   AS n_parquet,
               CAST(count(*) FILTER (user_id % 2 = 1) AS BIGINT)
                   AS n_jsonl,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT))
                    AS BIGINT) AS sum_value_cents
        FROM events, wm
        WHERE time_bucket(INTERVAL '10 minutes', ts) + INTERVAL 10 MINUTE
              <= wm.w
        GROUP BY 1
    """,
    doc="TRUE streaming union of two HETEROGENEOUS sources: even-user "
    "events feed in as parquet, odd-user events as JSONL (explicit "
    "micro-precision timestamp format — the default JSON format "
    "truncates to millis), each readStream carries its OWN "
    "30-minute watermark BEFORE the union, then one 10-minute "
    "tumbling aggregate drains in APPEND mode. With two watermarked "
    "inputs Spark's default multipleWatermarkPolicy=min makes the "
    "operator watermark the MIN of the per-source watermarks, so the "
    "emitted set is windows whose end <= min(per-feed max ts) - "
    "delay — which is exactly what the oracle computes (per-parity "
    "max, then min). Per-format counts prove both lanes reached "
    "every window. This is the federated-ingest contract: one "
    "pipeline over format-heterogeneous feeds, late-data safety "
    "governed by the SLOWEST feed.",
    tags=("streaming", "union", "watermark", "multiformat"),
)
def stream_union_sources_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    scratch = new_scratch_dir("union_sources")
    ev = _load_events(spark, sf_dir)
    even = ev.where(F.col("user_id") % 2 == 0)
    odd = ev.where(F.col("user_id") % 2 == 1)
    pq_dir = f"{scratch}/parquet_feed"
    js_dir = f"{scratch}/jsonl_feed"
    even.coalesce(1).write.mode("overwrite").parquet(pq_dir)
    (
        odd.coalesce(1)
        .write.mode("overwrite")
        .option("timestampFormat", _TS_FMT)
        .json(js_dir)
    )
    try:
        pq_feed = (
            spark.readStream.schema(ev.schema)
            .parquet(pq_dir)
            .withColumn("fmt", F.lit("parquet"))
            .withWatermark("ts", WM_DELAY)
        )
        js_feed = (
            spark.readStream.schema(ev.schema)
            .option("timestampFormat", _TS_FMT)
            .json(js_dir)
            .withColumn("fmt", F.lit("jsonl"))
            .withWatermark("ts", WM_DELAY)
        )
        unioned = pq_feed.unionByName(js_feed)
        agg = (
            unioned.groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(
                F.count(F.when(F.col("fmt") == "parquet", 1)).alias(
                    "n_parquet"
                ),
                F.count(F.when(F.col("fmt") == "jsonl", 1)).alias(
                    "n_jsonl"
                ),
                F.sum(
                    F.round(F.col("value") * 100.0, 0).cast("long")
                ).alias("sum_value_cents"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "n_parquet",
                "n_jsonl",
                "sum_value_cents",
            )
        )
        return _drain_to_memory(agg, "union_sources", sf_dir, "append")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@register(
    "stream_statestore_reader",
    oracle="""
        WITH c AS (SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events)
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               user_id,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events, c
        WHERE time_bucket(INTERVAL '10 minutes', ts) + INTERVAL 10 MINUTE
              > c.wm
        GROUP BY 1, 2
    """,
    doc="State Data Source reader (Spark 4): an append-mode 10-minute "
    "windowed count drains with a 30-minute watermark, then the "
    "RETAINED checkpoint is read back as a batch DataFrame via "
    "spark.read.format('statestore') — the streaming operator's "
    "internal state, no replay. Append mode evicts a window exactly "
    "when the watermark passes its end, so post-drain state holds "
    "precisely the still-open windows (end > max(ts) - delay) — the "
    "set-complement of stream_tumbling_window_true — and the oracle "
    "states that complement relationally. Operationally this is how "
    "a 1000-executor deployment answers 'what is this stateful query "
    "holding and why is its state 40 GB' without touching the "
    "running job.",
    tags=("streaming", "statestore", "operational"),
)
def stream_statestore_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    ckpt = new_scratch_dir("statestore_read")
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WM_DELAY)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    with scoped_shuffle_partitions(spark, 8):
        q = (
            agg.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("noop")
            .start()
        )
        try:
            q.awaitTermination()
            state = spark.read.format("statestore").load(ckpt)
            return state.select(
                F.col("key.window.start").alias("window_start"),
                F.col("key.user_id").alias("user_id"),
                F.col("value.count").cast("long").alias("n_events"),
            ).localCheckpoint(eager=True)
        finally:
            try:
                q.stop()
            except Exception:
                pass
            shutil.rmtree(ckpt, ignore_errors=True)
