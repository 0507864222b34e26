"""Keyed upsert / last-write-wins (reference estimate_queue.py:166-178).

The reference upserts one prediction row at a time into DynamoDB keyed
``(station_id, timestamp)`` via ``update_item`` — last write wins per key.
Set-oriented restatement: a ranking window over the change stream picks the
newest record per key; ``apply_upserts`` is the in-memory batch form (union
target + changes, keep winner), and the registered query checks the
window-dedup semantics against SQL.

Scale: the window partitions by the upsert key — one shuffle on the key,
no global ordering. The transactional table sink is ``operators/merge_tx``
(``MERGE INTO``, streamed through ``merge_batch_writer``); its rewrite has
the same plan shape (shuffle on key, per-key top-1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register


def latest_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Keep the newest row per key (ties broken by the last order col)."""
    w = W.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_upserts(
    target: DataFrame, changes: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Batch MERGE: union target with changes, last write wins per key."""
    return latest_per_key(
        target.unionByName(changes), key_cols=key_cols, order_cols=order_cols
    )


@register(
    "upsert_last_write_wins",
    oracle="""
        SELECT user_id, event_type, ts AS last_ts, value AS last_value
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
    doc="Last-write-wins per (station, metric) key over the event stream — "
    "the DynamoDB update_item semantics (estimate_queue.py:166-178) as a "
    "ranking-window dedup.",
    tags=("upsert", "window"),
)
def upsert_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return latest_per_key(
        ev, key_cols=["user_id", "event_type"], order_cols=["ts", "event_id"]
    ).select(
        "user_id",
        "event_type",
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
    )


def _sink_shape_oracle() -> str:
    from ..functions import estimator as est
    from .asof_interp import _PRED_SQL

    arms = "\n        UNION ALL\n".join(
        f"""
        SELECT station_id,
               CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) || '.0' AS ts_key,
               '{m}' AS metric,
               CAST(CAST(CAST({c} AS VARCHAR) AS DECIMAL(38,18)) AS VARCHAR)
                 AS metric_value
        FROM est WHERE station_id % 5 = 0"""
        for m, c in [
            ("queue_end_pos", "x_pos"),
            ("queue_lanes", "lanes"),
            ("queue_full", "queue_full"),
            ("cars", "cars"),
            ("expected_queue_time", "expected_queue_time"),
        ]
    )
    return f"WITH est AS ({est.estimator_sql(_PRED_SQL)}) {arms}"


@register(
    "upsert_sink_shape",
    oracle=_sink_shape_oracle(),
    doc="The DynamoDB record shape at the sink boundary (reference "
    "estimate_queue.py:166-178 + conftest.py:12-21): one row per "
    "(station_id, str(epoch) RANGE key, metric) with the value passed "
    "through Decimal(38,18) exactly as the reference converts via "
    "Decimal(str(v)) — melt of the estimator output keyed like the "
    "reference's update_item.",
    tags=("upsert", "sink", "decimal"),
)
def upsert_sink_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import fan_out
    from .asof_interp import queue_estimate

    # The flagship is a deliberately zero-shuffle broadcast pipeline, so on
    # a one-split scan its output sits in a single partition; the x5 Expand
    # + per-output-row decimal/string casts below would serialize there.
    # fan_out spreads the melt across cores (structural no-op at scale).
    # Scoped to a 1-in-5 station shard: the record shape and the Decimal
    # boundary under test are identical per row; the unsliced melt fed
    # events×5 rows through the gate's hash for no extra coverage.
    est_df = fan_out(
        queue_estimate(spark, sf_dir).where(F.col("station_id") % 5 == 0)
    )
    # The RANGE key is the epoch of ts's wall-clock reading, as DuckDB's
    # epoch(ts) reads the naive column. io.load_table turns the naive ts
    # into a TIMESTAMP in the session timezone, so unix_timestamp(ts) would
    # shift every key by that zone's UTC offset; casting back to
    # TIMESTAMP_NTZ recovers the wall clock, whose epoch needs no zone.
    melted = est_df.select(
        "station_id",
        F.concat(
            F.unix_timestamp(F.col("ts").cast("timestamp_ntz")).cast("string"),
            F.lit(".0"),
        ).alias("ts_key"),
        F.col("x_pos").alias("queue_end_pos"),
        F.col("lanes").alias("queue_lanes"),
        "queue_full",
        "cars",
        "expected_queue_time",
    ).unpivot(
        ids=["station_id", "ts_key"],
        values=[
            "queue_end_pos",
            "queue_lanes",
            "queue_full",
            "cars",
            "expected_queue_time",
        ],
        variableColumnName="metric",
        valueColumnName="_raw",
    )
    # Decimal(str(v)) exactly as the reference (estimate_queue.py:176):
    # shortest-repr string → exact decimal parse. The record carries the
    # decimal's canonical string (what the DynamoDB item stores) — a
    # decimal→double back-cast would round through int128/10^18 with
    # engine-specific error, so the decimal itself is the compared value.
    return melted.select(
        "station_id",
        "ts_key",
        "metric",
        F.col("_raw")
        .cast("string")
        .cast("decimal(38,18)")
        .cast("string")
        .alias("metric_value"),
    )
