"""Queue-time estimator as a Spark expression chain.

Re-expresses the reference's scalar estimator (estimate_cars_at_haraldrud +
estimate_time_in_queue, reference estimate_queue.py:91-163) as a set-oriented
DataFrame transformation over a *table* of predictions:

- x_pos clamp at 0                       (estimate_queue.py:118-120)
- lanes = round(queue_lanes + 1)         (estimate_queue.py:124)
- full-queue saturation vs piecewise-linear interpolation over the 6-point
  calibration geometry                   (estimate_queue.py:103-110,135-140)
- meters *= lanes                        (estimate_queue.py:142)
- visibility gate: x_pos > 300 → +34 m unseen stretch, else 0
                                         (estimate_queue.py:144-150)
- cars = meters * 0.13; hours = cars/74  (estimate_queue.py:152,155-163)

The np.interp lookup (estimate_queue.py:138-140) becomes a **broadcast range
join** against a segment table: each calibration interval [x1, x2) carries its
endpoints, plus two sentinel segments that make np.interp's clamp-at-both-ends
semantics fall out of the same linear-blend formula (slope is exactly 0.0 on
the sentinels, so no CASE is needed for the edges). The segment table is tiny
(7 rows) → Catalyst picks BroadcastNestedLoopJoin; at 100 TB the probe side
streams through executors with no shuffle.

``segments_values_sql`` emits the segment table as a SQL VALUES clause, and
both engines read that one emitter: Spark plans it as a ``LocalRelation``
(``segments_df``) and the DuckDB oracle inlines it, so both run the *same*
join with the *same* IEEE-754 arithmetic — value-hash parity is by
construction, and np.interp parity is property-tested in
tests/test_estimator.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Haraldrud pixel→meters calibration geometry (reference estimate_queue.py:103-110).
POINTS: list[tuple[float, float]] = [
    (33.0, 0.0),
    (337.0, 14.1),
    (614.0, 40.3),
    (778.0, 52.0),
    (983.0, 86.8),
    (1117.0, 139.4),
]

# Empirical constants (reference estimate_queue.py:111-116, 155).
CAR_DENSITY = 0.13        # cars / meter
FULL_THRESHOLD = 0.9      # queue_full probability above which queue is "full"
X_POS_THRESHOLD = 300.0   # x_pos at/below which no queue is visible
UNSEEN_DISTANCE = 34.0    # meters between image edge and the gate
INFLOW_RATE = 74.0        # cars / hour
MAX_METERS = max(y for _, y in POINTS)  # 139.4 (estimate_queue.py:136)

# Sentinel X far outside any plausible pixel coordinate; slope over a
# sentinel segment is exactly (y-y)/(BIG-x) == 0.0, so the blend formula
# returns the clamped endpoint value bit-exactly.
_SENTINEL_X = 1.0e300


def segments(
    points: list[tuple[float, float]] | None = None,
) -> list[tuple[float, float, float, float]]:
    """Calibration intervals [x1, x2) as (x1, y1, x2, y2), sentinel-padded.

    Covers the whole real line: (-BIG, first] ∪ interior ∪ [last, +BIG), so
    the range join is total and the linear blend reproduces np.interp's
    clamp-at-ends semantics (np.interp: below first x → first y, above last
    → last y). ``points`` defaults to the Haraldrud calibration; any
    strictly-increasing point set works (property-tested vs np.interp).
    """
    pts = POINTS if points is None else points
    first_x, first_y = pts[0]
    last_x, last_y = pts[-1]
    segs = [(-_SENTINEL_X, first_y, first_x, first_y)]
    for (x1, y1), (x2, y2) in zip(pts, pts[1:]):
        segs.append((x1, y1, x2, y2))
    segs.append((last_x, last_y, _SENTINEL_X, last_y))
    return segs


def segments_df(
    spark: SparkSession, points: list[tuple[float, float]] | None = None
) -> DataFrame:
    """The segment table as a (broadcastable) DataFrame.

    Read from the same VALUES clause the oracle joins, so it plans as a
    JVM-side ``LocalRelation`` and its broadcast is a short JVM-only job.
    ``createDataFrame`` over a Python list would plan as a pickled Python
    RDD instead: every query that joins it — every streaming micro-batch
    — would then run a Python-worker job only to re-broadcast seven rows.
    """
    return spark.sql("SELECT * FROM " + segments_values_sql(points=points))


def segments_values_sql(
    alias: str = "seg", points: list[tuple[float, float]] | None = None
) -> str:
    """The segment table (:func:`segments`) as an ANSI VALUES clause — the
    one emitter both the Spark plan and the DuckDB oracle read.

    Every literal is CAST to DOUBLE: DuckDB types bare float literals as
    DECIMAL, and exact decimal subtraction (52.0-40.3 = 11.7) differs from
    binary double subtraction (…11.699999999999996) — the casts force both
    engines through identical IEEE-754 arithmetic.
    """
    rows = ", ".join(
        "(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in row) + ")"
        for row in segments(points)
    )
    return f"(VALUES {rows}) AS {alias}(seg_x1, seg_y1, seg_x2, seg_y2)"


def blend_sql(x_expr: str, alias: str = "seg") -> str:
    """Linear blend formula (same op order as :func:`with_interp`).

    The x == x1 knot case returns y1 directly: for degenerate (subnormal-
    width) segments the slope overflows to inf and 0·inf would be NaN where
    np.interp returns the knot value — a no-op for sane geometry.
    """
    return (
        f"CASE WHEN {x_expr} = {alias}.seg_x1 THEN {alias}.seg_y1 "
        f"ELSE {alias}.seg_y1 + ({x_expr} - {alias}.seg_x1) * "
        f"(({alias}.seg_y2 - {alias}.seg_y1) / ({alias}.seg_x2 - {alias}.seg_x1)) "
        f"END"
    )


def with_interp(
    df: DataFrame,
    spark: SparkSession,
    x_col: str = "x_pos",
    out_col: str = "meters_interp",
    points: list[tuple[float, float]] | None = None,
) -> DataFrame:
    """Append np.interp(x, points) as ``out_col`` via a broadcast range join.

    Row count is preserved BY CONSTRUCTION: every finite x matches exactly
    one segment (the sentinel-padded intervals partition the real line) and
    the join is LEFT outer, so an x no predicate can match — NaN sorts
    above +inf in Spark's ordering, failing ``x < seg_x2`` for every
    segment — keeps its row and propagates NaN through ``out_col``,
    matching np.interp(NaN) → NaN (reference estimate_queue.py:134-141)
    instead of silently dropping the prediction.
    """
    seg = F.broadcast(segments_df(spark, points))
    x = F.col(x_col)
    joined = df.join(seg, (x >= F.col("seg_x1")) & (x < F.col("seg_x2")), "left")
    # knot guard mirrors blend_sql: exact y1 at x == x1 even when a
    # degenerate segment's slope overflows (0·inf would be NaN)
    blend = F.when(F.isnan(x), F.lit(float("nan"))).otherwise(
        F.when(x == F.col("seg_x1"), F.col("seg_y1")).otherwise(
            F.col("seg_y1")
            + (x - F.col("seg_x1"))
            * (
                (F.col("seg_y2") - F.col("seg_y1"))
                / (F.col("seg_x2") - F.col("seg_x1"))
            )
        )
    )
    return joined.withColumn(out_col, blend).drop(
        "seg_x1", "seg_y1", "seg_x2", "seg_y2"
    )


def lanes_col(queue_lanes: Column) -> Column:
    """lanes = round(queue_lanes + 1) (reference estimate_queue.py:124)."""
    return F.round(queue_lanes + F.lit(1.0), 0)


def with_queue_estimate(
    df: DataFrame,
    spark: SparkSession,
    end_pos_col: str = "queue_end_pos",
    lanes_col_name: str = "queue_lanes",
    full_col: str = "queue_full",
) -> DataFrame:
    """Full estimator chain over a predictions DataFrame.

    Input columns: ``queue_end_pos, queue_lanes, queue_full`` (doubles).
    Appends ``x_pos, lanes, meters, cars, expected_queue_time`` preserving
    the reference's operation order exactly (estimate_queue.py:118-163):
    lane multiply happens BEFORE the visibility gate, and the gate zeroes
    meters regardless of queue_full (saturation identity,
    estimate_queue_test.py:93-94).
    """
    out = df.withColumn(
        "x_pos", F.greatest(F.col(end_pos_col), F.lit(0.0))
    ).withColumn("lanes", lanes_col(F.col(lanes_col_name)))
    out = with_interp(out, spark, x_col="x_pos", out_col="_meters_interp")
    meters_base = F.when(
        F.col(full_col) > F.lit(FULL_THRESHOLD), F.lit(MAX_METERS)
    ).otherwise(F.col("_meters_interp"))
    meters_laned = meters_base * F.col("lanes")
    meters = F.when(
        F.col("x_pos") > F.lit(X_POS_THRESHOLD),
        meters_laned + F.lit(UNSEEN_DISTANCE),
    ).otherwise(F.lit(0.0))
    out = out.withColumn("meters", meters).drop("_meters_interp")
    out = out.withColumn("cars", F.col("meters") * F.lit(CAR_DENSITY))
    return out.withColumn(
        "expected_queue_time", F.col("cars") / F.lit(INFLOW_RATE)
    )


def estimator_sql(predictions_subquery: str) -> str:
    """DuckDB oracle for the full chain, mirroring op order bit-exactly.

    ``predictions_subquery`` must yield columns
    ``station_id, ts, queue_end_pos, queue_lanes, queue_full`` (plus any
    passthrough keys). Arithmetic is structured identically to the Spark
    plan so doubles hash equal.
    """
    return f"""
WITH preds AS ({predictions_subquery}),
clamped AS (
  SELECT *,
         GREATEST(queue_end_pos, 0.0) AS x_pos,
         ROUND(queue_lanes + 1.0, 0) AS lanes
  FROM preds
),
interp AS (
  SELECT c.*, {blend_sql('c.x_pos')} AS _meters_interp
  FROM clamped c JOIN {segments_values_sql()}
    ON c.x_pos >= seg.seg_x1 AND c.x_pos < seg.seg_x2
),
gated AS (
  SELECT *,
    CASE WHEN x_pos > {X_POS_THRESHOLD!r}
         THEN (CASE WHEN queue_full > {FULL_THRESHOLD!r} THEN {MAX_METERS!r}
                    ELSE _meters_interp END) * lanes + {UNSEEN_DISTANCE!r}
         ELSE 0.0 END AS meters
  FROM interp
)
SELECT * EXCLUDE (_meters_interp),
       meters * {CAR_DENSITY!r} AS cars,
       (meters * {CAR_DENSITY!r}) / {INFLOW_RATE!r} AS expected_queue_time
FROM gated
"""
