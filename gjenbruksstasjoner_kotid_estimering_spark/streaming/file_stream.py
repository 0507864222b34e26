"""Structured-Streaming file-arrival pipeline (reference architecture lane).

The reference's Luigi layer is an incremental file processor: a task runs
iff its output target does not exist (tasks.py:19-29), giving at-most-once
per input file; start.sh runs one pass per container. The Spark-native
replacement is a checkpointed file-source stream:

    readStream(parquet dir) → transform → writeStream(Trigger.AvailableNow)

The checkpoint's source log replaces target-existence memoization (files
already processed are never re-read — exactly-once to a file sink), and
``Trigger.AvailableNow`` reproduces the one-shot "drain everything then
exit" container behavior. Watermarked dedup replaces "re-running the same
image is a no-op".

Smoke-tested in tests/test_streaming.py (rows-only by driver contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..io import load_table, naive_nanos_to_timestamp, table_path

# The scale-grade state backend: HDFSBackedStateStore keeps every version
# of every key in executor heap (state size bounded by memory); RocksDB
# spills to local disk with incremental changelog checkpointing — the
# right choice once watermarked joins/aggregations carry GBs of state per
# executor. Applied per-session by use_rocksdb_state(); exercised in
# tests/test_streaming.py.
ROCKSDB_STATE_CONFS: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # bound local disk growth: compact + trackTotalNumberOfRows off is the
    # documented perf posture for write-heavy state
    "spark.sql.streaming.stateStore.rocksdb.compactOnCommit": "false",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "false",
}


def use_rocksdb_state(spark: SparkSession) -> SparkSession:
    """Switch streaming state to the RocksDB provider (idempotent; applies
    to queries started after the call)."""
    for k, v in ROCKSDB_STATE_CONFS.items():
        spark.conf.set(k, v)
    return spark


def raw_events_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """On-disk schema (ts arrives as long nanos under nanosAsLong — the
    stream source schema must match the file, not the cleaned table).

    Falls back to reading whatever parquet lives in the directory when
    the canonical single-file layout is absent — soak fixtures split
    events across several files in a flat dir."""
    import os

    p = table_path(sf_dir, "events")
    if not os.path.exists(p):
        return spark.read.parquet(sf_dir).schema
    return spark.read.parquet(p).schema


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival micro-batch source over the events directory.

    The file source needs a *directory* to watch (new files under it become
    micro-batches); the testdata lays one parquet file per table in a shared
    dir, so watch the dir with a glob pinned to the events file. The nanos
    ts is rebuilt to a µs timestamp post-scan, mirroring io.load_table.

    ``glob``/``max_files_per_trigger`` let soak tests drive the SAME
    reader over a multi-file copy of events with one file per
    micro-batch — the adversarial packing that proves LWW/watermark
    claims hold across many batches, not just the single-file drain.
    """
    reader = spark.readStream.schema(raw_events_schema(spark, sf_dir)).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(sf_dir)
    # Same timestamp normalization as io.load_table: ts has arrived as long
    # nanos (round-1 testdata) and as TIMESTAMP_NTZ (round-2+ testdata);
    # watermarks/window() require plain TIMESTAMP.
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumns({"ts": naive_nanos_to_timestamp("ts")})
    elif dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumns({"ts": F.col("ts").cast("timestamp")})
    return stream


def windowed_counts_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window agg (late data beyond 30 min dropped)."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "user_id",
            "n_events",
            "min_value",
            "max_value",
        )
    )


def deduped_stream(events: DataFrame) -> DataFrame:
    """Stateful dedup within the watermark — the streaming form of Luigi's
    'same input twice is a no-op' (tasks.py:19-29)."""
    return events.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_available_now(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    transform=windowed_counts_stream,
    reader=read_events_stream,
    foreach_batch=None,
) -> None:
    """One-shot incremental drain: process every not-yet-seen file, write
    parquet, exit — the reference's container one-shot (start.sh:3-4) with
    checkpointed exactly-once instead of target-existence checks.

    The drain of the corpus ingest (``run_corpus_ingest``) and the
    streaming MERGE sink (``operators/merge_tx.run_streaming_merge``):
    ``reader`` picks the source, ``transform`` the streaming plan, and
    ``foreach_batch`` (optional) switches the sink to per-micro-batch
    imperative output where the semantics need batch-local logic. Other
    one-shot streams drain their own way: into memory
    (``windows._drain_to_memory``, ``pystream``), a noop sink
    (``multisrc``), a transactional table group (``txn_stream``), their
    own parquet sink (``estimate_stream``, ``filesink``) or a
    ``foreachBatch`` history fold (``scd2_stream``).
    """
    stream = transform(reader(spark, sf_dir))
    writer = stream.writeStream.trigger(availableNow=True).option(
        "checkpointLocation", checkpoint_dir
    )
    if foreach_batch is not None:
        query = writer.foreachBatch(foreach_batch).start()
    else:
        query = (
            writer.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .start()
        )
    query.awaitTermination()


def error_followup_join(events: DataFrame) -> DataFrame:
    """Stream-stream join: pair each 'error' event with same-station events
    in the following 10 minutes (did the queue react?). Both sides carry
    watermarks so the join state is bounded — the streaming form of the
    bounded-interval self-join."""
    errors = (
        events.where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
            F.col("value").alias("err_value"),
        )
        .withWatermark("err_ts", "30 minutes")
    )
    others = events.select(
        "user_id", "ts", "event_id", "value"
    ).withWatermark("ts", "30 minutes")
    return errors.join(
        others,
        (F.col("err_user") == F.col("user_id"))
        & (F.col("ts") > F.col("err_ts"))
        & (F.col("ts") <= F.col("err_ts") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-arrival micro-batch source over the documents table (the
    streaming ingestion mouth of the corpus-prep lane)."""
    schema = spark.read.parquet(table_path(sf_dir, "documents")).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def corpus_ingest_transform(docs: DataFrame) -> DataFrame:
    """Quality gate + fingerprint projection for streaming ingestion (the
    streaming twin of plans/corpus.corpus_prep_pipeline's front half).

    Deliberately NO streaming dropDuplicates here: without a watermark it
    would hold one state entry per unique fingerprint FOREVER (unbounded
    executor-heap state at corpus scale) and silently dedup across
    batches. Batch-local dedup happens in the foreachBatch sink
    (run_corpus_ingest); cross-batch novelty belongs to the checkpointed
    source log — a file never re-enters — plus the downstream incremental
    dedup (operators/traindata2.dedup_incremental)."""
    from ..functions.text import quality_score_col

    return docs.select(
        "doc_id",
        "source",
        "lang",
        F.md5("text").alias("fp"),
        quality_score_col(F.col("text")).alias("quality"),
        F.length("text").cast("long").alias("n_chars_actual"),
    ).where(F.col("quality") >= 0.5)


def corpus_batch_writer(out_dir: str):
    """foreachBatch sink for the corpus drain: batch-LOCAL fingerprint
    dedup (bounded by the micro-batch, zero streaming state), written
    exactly-once.

    foreachBatch is at-least-once on recovery — a batch that wrote but
    crashed before the checkpoint commit is REPLAYED with the same
    ``batch_id`` — so a plain append would duplicate rows. Writing each
    batch to its deterministic ``batch_id=<n>`` partition directory in
    overwrite mode makes a replay clobber its own previous output instead:
    a read of ``out_dir`` sees every batch exactly once
    (tests/test_streaming.py simulates the replay)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.dropDuplicates(["fp"]).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    return apply


def run_corpus_ingest(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """One-shot incremental corpus drain: every not-yet-seen documents file
    flows through the quality gate, per-micro-batch fingerprint dedup, and
    into parquet. Re-running with the same checkpoint is a no-op —
    asserted in tests/test_streaming.py.

    Output-layout contract: ``out_dir`` is hive-partitioned by
    ``batch_id`` (the exactly-once mechanism — replays overwrite their
    own partition), so readers see a ``batch_id`` column and ``out_dir``
    must be fresh or previously written by THIS sink — pointing it at a
    directory holding flat parquet from another writer yields Spark's
    conflicting-directory-structures error."""

    run_available_now(
        spark,
        sf_dir,
        out_dir,
        checkpoint_dir,
        transform=corpus_ingest_transform,
        reader=read_documents_stream,
        foreach_batch=corpus_batch_writer(out_dir),
    )
