"""Event-time windowing (SURVEY.md §2 "Streaming").

The reference's operational model is a file-arrival micro-batch stream (one
image lands under a prefix → one pipeline run, start.sh:3-4); its per-
timestamp predictions form an event-time series. Here:

- ``stream_tumbling_window``: tumbling-window aggregation in its *batch*
  form (``F.window`` over the events table) — oracle-checked; the windowing
  arithmetic (epoch-aligned 10-minute buckets) is identical to what the
  streaming engine applies per micro-batch.
- ``stream_sliding_window``: overlapping windows (1 row → 2 windows).
- The true ``readStream`` + watermark variants live in
  streaming/file_stream.py and are smoke-tested (rows-only by driver
  contract — streaming state is engine-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register
from ..session import scoped_shuffle_partitions


@register(
    "stream_tumbling_window",
    oracle="""
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               user_id,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_value_cents
        FROM events
        GROUP BY time_bucket(INTERVAL '10 minutes', ts), user_id
    """,
    doc="Tumbling 10-minute event-time windows per station (batch form of "
    "the streaming agg; both engines align buckets on the epoch ⇒ "
    "time_bucket ≡ F.window start). The streaming twin runs in "
    "streaming/file_stream.py with a watermark.",
    tags=("streaming", "window"),
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0, 0).cast("long")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "sum_value_cents",
        )
    )


@register(
    "stream_sliding_window",
    oracle="""
        WITH offsets AS (SELECT unnest([0, 5]) AS off_min),
        assigned AS (
          SELECT time_bucket(INTERVAL '10 minutes',
                             ts - to_minutes(off_min))
                 + to_minutes(off_min) AS window_start,
                 value
          FROM events CROSS JOIN offsets
        )
        SELECT window_start,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_value_cents
        FROM assigned
        GROUP BY window_start
    """,
    doc="Sliding windows (10-minute length, 5-minute slide): each event "
    "lands in 2 windows. Oracle replays the window-assignment arithmetic "
    "via bucket-shifted time_bucket.",
    tags=("streaming", "window", "sliding"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0, 0).cast("long")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "sum_value_cents"
        )
    )


@register(
    "session_window_agg",
    oracle=None,  # session assignment is iterative — rows-only; invariants pytest-checked
    doc="Session windows (30-minute gap) per station — visits between "
    "queue-empty gaps (SURVEY.md §2 sessionization row). Batch form of "
    "session_window; gap-merge semantics are pytest-checked.",
    tags=("streaming", "session"),
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def _drain_to_memory(
    stream, tag: str, sf_dir: str, output_mode: str
):
    """Shared one-shot drain harness for TRUE-streaming registry queries:
    per-invocation hermetic checkpoint dir AND per-invocation query/view
    name (scratch.py convention — concurrent runs of the same query can
    never share streaming state or collide on an active queryName, the
    round-4 flake class), AvailableNow drain. The drained rows are
    DETACHED (eager localCheckpoint) before both the checkpoint and the
    memory-sink view are discarded, so the returned frame references no
    shared state at all. One definition so drain hygiene can't drift per
    query."""
    import os
    import shutil
    import uuid

    from ..scratch import new_scratch_dir

    spark = stream.sparkSession
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    name = f"stream_{tag}_{sf_tag}_{uuid.uuid4().hex[:8]}"
    ckpt = new_scratch_dir(f"ckpt_{tag}_{sf_tag}")
    # Stateful micro-batches pay per-partition task + state-store overhead
    # every batch; at drain scale the state is KBs, so 32 shuffle
    # partitions is pure scheduling tax. The partition count is captured
    # into the CHECKPOINT at first start (fresh per invocation here), so
    # scoping the override to the drain is safe — batch queries and the
    # driver's own session settings are restored on exit. At real scale
    # you size this to state volume, not down.
    with scoped_shuffle_partitions(spark, 8):
        q = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.awaitTermination()
            out = spark.table(name).localCheckpoint(eager=True)
        finally:
            # stop FIRST: if awaitTermination or the table read raised, the
            # query may still be active — dropping its sink view and
            # deleting the checkpoint underneath a live query would leak
            # it in a corrupted state (round-6 ADVICE).
            try:
                q.stop()
            except Exception:
                pass
            spark.catalog.dropTempView(name)
            shutil.rmtree(ckpt, ignore_errors=True)
    return out


WM_DELAY = "30 minutes"  # watermark delay shared by the TRUE-window rows


@register(
    "stream_tumbling_window_true",
    oracle="""
        WITH c AS (SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events)
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT))
                    AS BIGINT) AS sum_value_cents
        FROM events, c
        WHERE time_bucket(INTERVAL '10 minutes', ts) + INTERVAL 10 MINUTE
              <= c.wm
        GROUP BY 1, 2
    """,
    doc="TRUE streaming tumbling-window aggregate, oracle-checked: "
    "readStream → withWatermark(30 min) → 10-minute window agg → "
    "AvailableNow drain in APPEND mode. Append emits a window exactly "
    "when the watermark passes its end, and the terminal no-data "
    "micro-batch flushes everything closed by the final watermark "
    "(global max event time − delay) — so the drained set is exactly "
    "the batch windows whose end ≤ max(ts) − 30 min, which is what the "
    "oracle computes. The one open tail window stays in state, as it "
    "would in production. Completes the streaming lane's oracle "
    "coverage: join (r4), arbitrary state (r4), and now the windowed "
    "aggregate — the three stateful operator families.",
    tags=("streaming", "window", "watermark"),
)
def stream_tumbling_window_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .file_stream import read_events_stream

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WM_DELAY)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0, 0).cast("long")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "sum_value_cents",
        )
    )
    return _drain_to_memory(agg, "twin_true", sf_dir, "append")


@register(
    "stream_session_window_true",
    oracle="""
        WITH o AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        s AS (
          SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM o
        ),
        g AS (
          SELECT user_id,
                 min(ts) AS session_start,
                 max(ts) + INTERVAL 30 MINUTE AS session_end,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM s GROUP BY user_id, sid
        )
        SELECT user_id, session_start, session_end, n_events
        FROM g, (SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events) c
        WHERE session_end <= c.wm
    """,
    doc="TRUE streaming session windows, oracle-checked: readStream → "
    "withWatermark(30 min) → session_window(30-min gap) per user → "
    "AvailableNow APPEND drain. Spark merges events into sessions whose "
    "end = last event + gap and emits each session once the watermark "
    "passes its end; the oracle recomputes the identical sessions "
    "relationally (gaps-and-islands: break on >30-min silence, "
    "cumulative-sum session ids) and applies the same final-watermark "
    "cutoff. Equal-timestamp ties are harmless — break flags and "
    "min/max/count are order-invariant within a tie. The dynamic-gap "
    "batch twin is sessionize_gaps.",
    tags=("streaming", "session", "watermark"),
)
def stream_session_window_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .file_stream import read_events_stream

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WM_DELAY)
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return _drain_to_memory(agg, "sess_true", sf_dir, "append")


@register(
    "stream_ohlc_true",
    oracle="""
        WITH c AS (SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events)
        SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT))
                    AS BIGINT) AS volume_cents
        FROM events, c
        WHERE time_bucket(INTERVAL '15 minutes', ts) + INTERVAL 15 MINUTE
              <= c.wm
        GROUP BY 1, 2
    """,
    doc="TRUE streaming OHLC bars, oracle-checked: readStream → "
    "withWatermark(30 min) → 15-minute window per event type with "
    "min_by/max_by picking the open/close values by event time — the "
    "live form of timeseries_resample_ohlc, turning a tick stream into "
    "bars as windows close (append emits each bar once the watermark "
    "passes its end; the terminal no-data micro-batch flushes "
    "everything ≤ max(ts) − delay, which is the oracle's cutoff). "
    "min_by needs no tie-break here: event timestamps are globally "
    "unique at µs resolution in every fixture "
    "(tests/test_streaming.py pins this invariant, alongside the "
    "watermark-boundary guard). All outputs are selected values or "
    "integer cents — hash-exact despite the double column. Fourth "
    "value-hashed streaming window family (tumbling, session, "
    "sliding, OHLC).",
    tags=("streaming", "ohlc", "timeseries", "watermark"),
)
def stream_ohlc_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .file_stream import read_events_stream

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WM_DELAY)
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0, 0).cast("long")).alias(
                "volume_cents"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "volume_cents",
        )
    )
    return _drain_to_memory(agg, "ohlc_true", sf_dir, "append")


@register(
    "stream_sliding_window_true",
    oracle="""
        WITH c AS (SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events),
        offsets AS (SELECT unnest([0, 5]) AS off_min),
        assigned AS (
          SELECT time_bucket(INTERVAL '10 minutes',
                             ts - to_minutes(off_min))
                 + to_minutes(off_min) AS window_start,
                 value
          FROM events CROSS JOIN offsets
        )
        SELECT window_start,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT))
                    AS BIGINT) AS sum_value_cents
        FROM assigned, c
        WHERE window_start + INTERVAL 10 MINUTE <= c.wm
        GROUP BY window_start
    """,
    doc="TRUE streaming SLIDING-window aggregate (10-minute length, "
    "5-minute slide — each event feeds 2 windows), oracle-checked: "
    "readStream → withWatermark(30 min) → window('10 minutes', "
    "'5 minutes') agg → AvailableNow APPEND drain. Same final-watermark "
    "contract as the tumbling row: append emits exactly the windows "
    "whose end ≤ max(ts) − delay; the oracle replays the overlapping "
    "window-assignment arithmetic (bucket-shifted time_bucket) with the "
    "same cutoff. Sliding-window ends land on 5-minute marks, so the "
    "fixture boundary guard (tests/test_streaming.py) also asserts the "
    "watermark is off the 300-second grid. Completes the windowed "
    "streaming family: tumbling, sliding, session — all value-hashed "
    "through the real engine.",
    tags=("streaming", "window", "watermark"),
)
def stream_sliding_window_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .file_stream import read_events_stream

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WM_DELAY)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0, 0).cast("long")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value_cents",
        )
    )
    return _drain_to_memory(agg, "slide_true", sf_dir, "append")


@register(
    "stream_dedup_true",
    oracle="""
        SELECT DISTINCT user_id, event_type,
               date_trunc('hour', ts) AS hour
        FROM events
    """,
    doc="TRUE streaming dedup, oracle-checked: readStream → watermark → "
    "dropDuplicatesWithinWatermark on (user_id, event_type, hour) → "
    "AvailableNow APPEND drain. The engine keeps one state entry per "
    "key within the watermark horizon and emits each key's first "
    "arrival; projected onto the dedup key columns the drained set is "
    "exactly SELECT DISTINCT (which row of a key emits depends on "
    "processing order, so only the key columns are output — the "
    "deterministic contract). Batch twin with full-row semantics: "
    "dedup_time_bounded. The watermark delay here EXCEEDS the fixture's "
    "time span, so no state evicts and no late row drops mid-drain — "
    "the drained set equals SELECT DISTINCT under ANY micro-batch "
    "packing of the source, not just a single-batch drain. At 100 TB "
    "you size the delay to the lateness SLA instead and state is one "
    "horizon's keys, not history's — same operator, different knob.",
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .file_stream import read_events_stream

    ev = read_events_stream(spark, sf_dir)
    deduped = (
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        # horizon > data span: exact global dedup whatever the batching
        .withWatermark("hour", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour"])
        .select("user_id", "event_type", "hour")
    )
    return _drain_to_memory(deduped, "dedup_true", sf_dir, "append")


@register(
    "stream_error_followup_join",
    oracle="""
        SELECT e1.user_id AS err_user, e1.ts AS err_ts,
               e1.value AS err_value,
               e2.user_id, e2.ts, e2.event_id, e2.value
        FROM events e1
        JOIN events e2
          ON e1.event_type = 'error'
         AND e2.user_id = e1.user_id
         AND e2.ts > e1.ts
         AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
    """,
    doc="TRUE streaming stream-stream join, oracle-checked: the "
    "watermarked error-followup join (streaming/file_stream."
    "error_followup_join — each 'error' paired with the same user's "
    "events in the next 10 minutes) is EXECUTED through readStream → "
    "join → AvailableNow → memory sink, then the drained sink is "
    "compared against the batch interval-self-join oracle. An INNER "
    "interval join over an AvailableNow drain is deterministic (the "
    "watermark bounds state, not output), so unlike the windowed/"
    "session streaming rows it can carry a full value-hash oracle. "
    "Scale posture: both sides' 30-min watermarks keep join state "
    "bounded to the interval horizon per user; at 100 TB this runs "
    "continuously with the same plan.",
    tags=("streaming", "join", "interval"),
)
def stream_error_followup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .file_stream import error_followup_join, read_events_stream

    joined = error_followup_join(read_events_stream(spark, sf_dir))
    return _drain_to_memory(joined, "err_join", sf_dir, "append")


@register(
    "stream_stateful_tracker",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               max(value) AS max_value,
               CAST(coalesce(max(CASE WHEN event_type = 'error'
                                      THEN epoch_us(ts) END), 0)
                    AS BIGINT) AS last_error_epoch_us
        FROM events GROUP BY user_id
    """,
    doc="TRUE custom stateful streaming, oracle-checked: the "
    "applyInPandasWithState per-user tracker (running count, running "
    "max, last-error timestamp — three scalars of state per key, "
    "bounded at any cardinality) drains via AvailableNow in update "
    "mode; the LATEST emission per user (n_events is monotone, so "
    "row_number by n_events DESC picks it) must equal the batch "
    "aggregate — which is exactly the oracle. Count/max/selected-"
    "timestamp are all exact, so the arbitrary-state escape hatch gets "
    "the same hash gate as the declarative operators.",
    tags=("streaming", "stateful", "state"),
)
def stream_stateful_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .file_stream import read_events_stream
    from .stateful import stateful_station_tracker

    stream = stateful_station_tracker(read_events_stream(spark, sf_dir))
    drained = _drain_to_memory(stream, "tracker", sf_dir, "update")
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    )
    return (
        drained.withColumn("_rn", rn)
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
