"""As-of / piecewise-linear-interpolation join + the flagship pipeline.

The reference's ``np.interp(x_pos, POINTS)`` (estimate_queue.py:136-140) is a
1-D as-of lookup with linear blending and clamp-at-ends. Set-oriented form
(functions/estimator.py): broadcast range join against sentinel-padded
calibration segments — O(1) per probe row, zero shuffle, works unchanged at
100 TB because the build side is 7 rows.

``queue_estimate`` is the flagship query (SURVEY.md §7 step 1): the entire
reference pipeline estimate_queue.py:181-192 restated over the ``events``
table — synthetic model predictions derived from event columns stand in for
the three keras heads (the real .h5 weights are absent from the reference
repo, .MISSING_LARGE_BLOBS:1-3; scoring is model-pluggable by design), then
the exact estimator chain: clamp → lanes → saturation/interp → lane multiply
→ visibility gate → cars → hours.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import epoch_us
from ..functions import estimator as est
from ..io import load_table
from ..registry import register

# Synthetic "model head" expressions over events — deterministic stand-ins
# for the three station-41 keras models (reference estimate_queue.py:24-28).
_PRED_SQL = """
    SELECT event_id,
           user_id AS station_id,
           ts,
           value * 4.0 AS queue_end_pos,
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 2
                AS DOUBLE) AS queue_lanes,
           CASE WHEN event_type = 'error' THEN 0.95
                ELSE CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
                          AS DOUBLE) / 10.0
           END AS queue_full
    FROM events
"""


def predictions(ev: DataFrame) -> DataFrame:
    """events (a batch or a streaming frame) → synthetic (station_id, ts,
    queue_end_pos, queue_lanes, queue_full) predictions."""
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id",
        F.col("user_id").alias("station_id"),
        "ts",
        (F.col("value") * F.lit(4.0)).alias("queue_end_pos"),
        (k % 2).cast("double").alias("queue_lanes"),
        F.when(F.col("event_type") == "error", F.lit(0.95))
        .otherwise((k % 10).cast("double") / F.lit(10.0))
        .alias("queue_full"),
    )


def estimate_events(ev: DataFrame) -> DataFrame:
    """events (a batch or a streaming frame) → the flagship estimate: the
    synthetic heads, then the whole estimator chain. The batch
    ``queue_estimate`` and the streaming ``queue_estimate_stream`` both
    run it, so they plan one projection."""
    out = est.with_queue_estimate(predictions(ev), ev.sparkSession)
    return out.select(
        "event_id",
        "station_id",
        "ts",
        "x_pos",
        "lanes",
        "queue_full",
        "meters",
        "cars",
        "expected_queue_time",
    )


@register(
    "asof_interp_join",
    oracle=f"""
        WITH preds AS ({_PRED_SQL}),
        clamped AS (
          SELECT event_id, GREATEST(queue_end_pos, 0.0) AS x_pos FROM preds
        )
        SELECT c.event_id, c.x_pos,
               {est.blend_sql('c.x_pos')} AS meters_interp
        FROM clamped c
        JOIN {est.segments_values_sql()}
          ON c.x_pos >= seg.seg_x1 AND c.x_pos < seg.seg_x2
    """,
    doc="np.interp as a broadcast range join (reference "
    "estimate_queue.py:136-140): sentinel-padded segments make the clamp "
    "fall out of the linear blend with slope exactly 0. Property-tested "
    "against numpy in tests/test_estimator.py.",
    tags=("join", "asof", "interp"),
)
def asof_interp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    preds = predictions(load_table(spark, sf_dir, "events"))
    clamped = preds.select(
        "event_id", F.greatest(F.col("queue_end_pos"), F.lit(0.0)).alias("x_pos")
    )
    return est.with_interp(clamped, spark, x_col="x_pos", out_col="meters_interp")


@register(
    "queue_estimate",
    oracle=f"""
        SELECT event_id, station_id, ts, x_pos, lanes, queue_full,
               meters, cars, expected_queue_time
        FROM ({est.estimator_sql(_PRED_SQL)})
    """,
    doc="Flagship: the whole reference pipeline (estimate_queue.py:181-192) "
    "as one declarative plan over events — synthetic model heads, then the "
    "estimator chain with reference-exact operation order. This is what "
    "entry() runs at sf0.001.",
    tags=("flagship", "pipeline"),
)
def queue_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return estimate_events(load_table(spark, sf_dir, "events"))


@register(
    "join_asof_nearest",
    oracle="""
        SELECT event_id, user_id, ts,
               last_value(CASE WHEN event_type = 'error' THEN value END
                          IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS last_error_value,
               count(CASE WHEN event_type = 'error' THEN 1 END) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS errors_so_far
        FROM events
    """,
    doc="As-of (nearest preceding) join: every event picks up the most "
    "recent at-or-before 'error' reading of its station — the general form "
    "of the interp clamp (SURVEY.md O14 'as-of' row). Implemented WITHOUT a "
    "join: last(ignorenulls) over an ordered per-key window — one shuffle "
    "on the key, O(n) state, the scalable as-of pattern at 100 TB.",
    tags=("join", "asof", "window"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    marked = F.when(F.col("event_type") == "error", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.last(marked, ignorenulls=True).over(w).alias("last_error_value"),
        F.count(marked).over(w).alias("errors_so_far"),
    )


@register(
    "join_asof_forward",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value
            FROM events
        )
        SELECT event_id, user_id,
               first_value(CASE WHEN event_type = 'error' THEN value END
                           IGNORE NULLS) OVER win AS next_error_value,
               CAST(first_value(CASE WHEN event_type = 'error' THEN us END
                                IGNORE NULLS) OVER win - us
                    AS BIGINT) AS time_to_error_us
        FROM e
        WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    """,
    doc="FORWARD as-of join: every event sees the next at-or-after "
    "'error' reading of its key and the exact integer-microsecond time "
    "until it — the attribution direction (label = what happens next) "
    "that backward as-of can't express and that leaks future data if "
    "done naively at training time, so pipelines need it as an explicit, "
    "audited operator. Same single-shuffle windowed shape as "
    "join_asof_nearest with the frame reversed: first(ignorenulls) over "
    "CURRENT ROW..UNBOUNDED FOLLOWING.",
    tags=("join", "asof", "window"),
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    marked_val = F.when(F.col("event_type") == "error", F.col("value"))
    marked_us = F.when(
        F.col("event_type") == "error", F.unix_micros("ts")
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first(marked_val, ignorenulls=True).over(w).alias(
            "next_error_value"
        ),
        (
            F.first(marked_us, ignorenulls=True).over(w)
            - F.unix_micros("ts")
        ).cast("long").alias("time_to_error_us"),
    )


TOLERANCE_US = 3600 * 1_000_000  # 1 hour


@register(
    "join_asof_tolerance",
    oracle=f"""
        WITH e AS (
            SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value
            FROM events
        ),
        w AS (
            SELECT event_id, user_id, us,
                   last_value(CASE WHEN event_type = 'error' THEN value END
                              IGNORE NULLS) OVER win AS lv,
                   last_value(CASE WHEN event_type = 'error' THEN us END
                              IGNORE NULLS) OVER win AS lu
            FROM e
            WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, user_id,
               CASE WHEN us - lu <= {TOLERANCE_US} THEN lv END
                 AS last_error_within_1h,
               CAST(CASE WHEN us - lu <= {TOLERANCE_US} THEN us - lu END
                    AS BIGINT) AS error_age_us
        FROM w
    """,
    doc="As-of join with a STALENESS TOLERANCE — the feature-store "
    "semantics: each event sees the most recent at-or-before 'error' "
    "reading only if it is at most 1 hour old, else NULL (a too-old "
    "feature must not leak forward). Same single-shuffle windowed "
    "as-of as join_asof_nearest plus an exact integer-microsecond age "
    "gate; NULL propagation (no prior error → NULL age → NULL output) "
    "is identical cross-engine.",
    tags=("join", "asof", "window", "tolerance"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        epoch_us("ts").alias("us"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    lv = F.last(
        F.when(F.col("event_type") == "error", F.col("value")), ignorenulls=True
    ).over(w)
    lu = F.last(
        F.when(F.col("event_type") == "error", F.col("us")), ignorenulls=True
    ).over(w)
    age = F.col("us") - lu
    fresh = age <= TOLERANCE_US
    return ev.select(
        "event_id",
        "user_id",
        F.when(fresh, lv).alias("last_error_within_1h"),
        F.when(fresh, age).cast("long").alias("error_age_us"),
    )
