"""TRUE streaming through the Python Data Source API.

The batch row (sources/pyds.py scan_python_datasource) proves the
partition-planning + pushdown contracts; this row proves the THIRD
contract of the Spark 4 Python Data Source API end-to-end:
``simpleStreamReader`` — offset-tracked micro-batches produced by
Python code, checkpointed by Spark, drained through a real streaming
query. This is the shape a Kafka-like or queue-like custom source
takes at 100 TB: the reader hands Spark plain-dict offsets, Spark owns
retries/recovery, and the engine never needs the source to be a file
system.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import scoped_shuffle_partitions
from ..sources.pyds import (
    BUCKET_MOD,
    CENTS_MOD,
    HASH_MULT,
    STREAM_BATCH,
    register_graft_series,
)


STREAM_ROWS = 2000  # 5 micro-batches of STREAM_BATCH=400

DRAIN_DEADLINE = 120.0  # seconds before the watchdog stops a stuck drain


def arm_drain_watchdog(query, deadline: float = DRAIN_DEADLINE):
    """Arm a daemon timer that stops ``query`` after ``deadline`` seconds.

    processAllAvailable() has no timeout of its own — a Python stream
    worker that stalls WITHOUT erroring (hung reader, offsets not
    advancing) would block the caller forever (r9 advice). The timer
    calls ``query.stop()`` so the blocked call returns; the returned
    event tells the caller the stop came from the watchdog, which the
    caller must convert into a loud TimeoutError rather than reading a
    silent partial drain. Returns ``(timer, timed_out_event)``; the
    caller cancels the timer in its ``finally``."""
    import threading

    timed_out = threading.Event()

    def _watchdog_stop() -> None:
        timed_out.set()
        try:
            query.stop()
        except Exception:
            pass

    watchdog = threading.Timer(deadline, _watchdog_stop)
    watchdog.daemon = True
    watchdog.start()
    return watchdog, timed_out


@register(
    "stream_python_datasource_true",
    oracle=f"""
        WITH gen AS (
          SELECT i AS id, (i * {HASH_MULT}) % {2**63} AS h
          FROM range(0, {STREAM_ROWS}) t(i)
        ),
        rows_ AS (
          SELECT id, h % {BUCKET_MOD} AS bucket,
                 h % {CENTS_MOD} AS value_cents
          FROM gen
        )
        SELECT CAST(bucket % 8 AS BIGINT) AS bucket_band,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(value_cents) AS BIGINT) AS sum_cents,
               CAST(min(id) AS BIGINT) AS first_id,
               CAST(max(id) AS BIGINT) AS last_id
        FROM rows_
        GROUP BY 1
    """,
    doc="TRUE streaming via the Python Data Source API "
    "(simpleStreamReader): the deterministic integer series arrives "
    f"as ≤{STREAM_BATCH}-row micro-batches whose offsets are plain "
    "dicts checkpointed by Spark (sources/pyds.py "
    "GraftSeriesStreamReader), a per-band aggregate accumulates in "
    "COMPLETE mode, and the drained table must hash-match the batch "
    "oracle computed from range() — the incremental offset walk "
    "converges to the all-at-once relation, max(id) proving the drain "
    "consumed through the final offset and count proving no batch was "
    "double-applied. Band cardinality (8) bounds COMPLETE-mode state "
    "regardless of stream length — the only shape COMPLETE is safe "
    "for at scale.",
    tags=("streaming", "source", "datasource", "python"),
)
def stream_python_datasource_true(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil
    import uuid

    from ..scratch import new_scratch_dir

    register_graft_series(spark)
    feed = (
        spark.readStream.format("graft_series")
        .option("rows", STREAM_ROWS)
        .load()
    )
    agg = feed.groupBy((F.col("bucket") % 8).alias("bucket_band")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_cents").alias("sum_cents"),
        F.min("id").alias("first_id"),
        F.max("id").alias("last_id"),
    )
    # AvailableNow snapshots only the offsets PREFETCHED at start — for a
    # SimpleDataSourceStreamReader that is one micro-batch, not the whole
    # series — so this drain runs a continuous-trigger query and blocks on
    # processAllAvailable(): the reader reports caught-up once the offset
    # walk reaches STREAM_ROWS, so the call returns exactly when the
    # bounded series is consumed (no sleep-poll; r9 A/B: ~0.4s faster and
    # no magic polling interval). The post-drain row-count assertion keeps
    # the consume-to-a-KNOWN-end-offset contract explicit.
    #
    # Watchdog (r9 advice): processAllAvailable() alone has no timeout —
    # a Python stream worker that stalls WITHOUT erroring (hung reader,
    # offsets not advancing) would block the whole sweep forever. A
    # daemon Timer stops the query at the deadline; the flag turns that
    # stop into a loud TimeoutError instead of a silent partial drain.
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    name = f"stream_pyds_{sf_tag}_{uuid.uuid4().hex[:8]}"
    ckpt = new_scratch_dir(f"ckpt_pyds_{sf_tag}")
    with scoped_shuffle_partitions(spark, 8):
        q = (
            agg.writeStream.trigger(processingTime="0 seconds")
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        watchdog, timed_out = arm_drain_watchdog(q)
        try:
            q.processAllAvailable()
            seen = (
                spark.table(name)
                .agg(F.coalesce(F.sum("n"), F.lit(0)))
                .collect()[0][0]
            )
            if seen != STREAM_ROWS:
                # The flag alone isn't proof of a stall: a drain finishing
                # at ~the deadline can see the timer fire between
                # processAllAvailable() returning and this check. Only an
                # INCOMPLETE drain is an error — timed-out incomplete is
                # the watchdog's stall, complete is a healthy (if slow)
                # drain.
                if timed_out.is_set():
                    raise TimeoutError(
                        f"stream drain exceeded {DRAIN_DEADLINE}s with "
                        f"{seen}/{STREAM_ROWS} rows — the source stalled "
                        "without erroring (offsets not advancing?)"
                    )
                raise RuntimeError(
                    f"stream drained {seen}/{STREAM_ROWS} rows — the source "
                    "reported caught-up before the known end offset"
                )
            out = spark.table(name).localCheckpoint(eager=True)
        finally:
            watchdog.cancel()
            try:
                q.stop()
            except Exception:
                pass
            spark.catalog.dropTempView(name)
            shutil.rmtree(ckpt, ignore_errors=True)
    return out
