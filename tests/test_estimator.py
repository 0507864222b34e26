"""Estimator chain golden tests — ports of the reference's own test suite
(reference test/estimate_queue_test.py:68-100) against the DataFrame
expressions, plus np.interp parity for the range-join interpolation.
"""

from __future__ import annotations

import numpy as np
import pytest

from gjenbruksstasjoner_kotid_estimering_spark.functions import estimator as est

from conftest import HYP_EXAMPLES


def _cars(spark, rows):
    """rows: [(queue_end_pos, queue_lanes, queue_full), ...] → cars list."""
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in rows],
        schema="queue_end_pos double, queue_lanes double, queue_full double",
    )
    out = est.with_queue_estimate(df, spark)
    got = {
        (r.queue_end_pos, r.queue_lanes, r.queue_full): r.cars
        for r in out.collect()
    }
    return [got[(float(a), float(b), float(c))] for a, b, c in rows]


def test_estimator_goldens(spark):
    """Monotonicity/invariance table (estimate_queue_test.py:68-94)."""
    cars = _cars(
        spark,
        [
            (0, 0, 0),
            (100, 0, 0),
            (500, 0, 0),
            (500, 1, 0),
            (5, 1, 0),
            (5, 0, 0),
            (900, 0, 1),
            (100000, 0, 0),
        ],
    )
    zero, below, visible, two_lane, inv_lane, inv_base, full, absurd = cars
    assert zero == 0.0
    assert below == 0.0  # below visibility threshold
    assert visible > 0.0
    assert two_lane > visible  # extra lane strictly increases cars
    assert inv_lane == inv_base == 0.0  # lanes moot when invisible
    # full-queue saturation equals absurdly long queue (estimate_queue_test.py:93-94)
    assert full == absurd == pytest.approx((139.4 + 34.0) * 0.13)


def test_time_in_queue_exact(spark):
    """estimate_time_in_queue({'cars': 5}, 70) == 5/70
    (estimate_queue_test.py:97-100). Our chain fixes inflow at 74; check the
    division exactly at inflow=74 and the 5/70 identity via raw arithmetic."""
    df = spark.createDataFrame(
        [(500.0, 0.0, 0.0)],
        schema="queue_end_pos double, queue_lanes double, queue_full double",
    )
    row = est.with_queue_estimate(df, spark).collect()[0]
    assert row.expected_queue_time == row.cars / 74.0
    assert 5.0 / 70.0 == pytest.approx(0.07142857142857142)


def test_interp_matches_numpy(spark):
    """Broadcast range-join interpolation ≡ np.interp over the calibration
    points — interior, exact knots, and both clamped ends
    (estimate_queue.py:136-140 semantics)."""
    rng = np.random.default_rng(42)
    xs = np.concatenate(
        [
            rng.uniform(-200.0, 1400.0, 500),
            np.array([x for x, _ in est.POINTS], dtype=np.float64),
            np.array([0.0, 32.999, 33.0, 1116.999, 1117.0, 1e6]),
        ]
    )
    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(xs)], schema="i long, x_pos double"
    )
    out = est.with_interp(df, spark).orderBy("i").collect()
    got = np.array([r.meters_interp for r in out])
    px = [x for x, _ in est.POINTS]
    py = [y for _, y in est.POINTS]
    expected = np.interp(xs, px, py)
    np.testing.assert_allclose(got, expected, rtol=1e-12, atol=1e-12)
    # row count preserved (segments partition the real line)
    assert len(out) == len(xs)


def test_lanes_rounding(spark):
    """lanes = round(queue_lanes + 1): binary prediction → 1 or 2 lanes
    (estimate_queue.py:122-124)."""
    df = spark.createDataFrame(
        [(400.0, 0.0, 0.0), (400.0, 1.0, 0.0), (400.0, 0.4, 0.0), (400.0, 0.6, 0.0)],
        schema="queue_end_pos double, queue_lanes double, queue_full double",
    )
    lanes = {
        r.queue_lanes: r.lanes for r in est.with_queue_estimate(df, spark).collect()
    }
    assert lanes[0.0] == 1.0 and lanes[0.4] == 1.0
    assert lanes[1.0] == 2.0 and lanes[0.6] == 2.0


def test_interp_random_point_sets_hypothesis(spark):
    """Interp join ≡ np.interp on arbitrary strictly-increasing point sets
    (hypothesis; SURVEY.md §5 property-test requirement). One Spark job per
    example is slow, so examples are few but each covers many probes."""
    from hypothesis import assume, given, settings, strategies as st

    @settings(max_examples=HYP_EXAMPLES, deadline=None)
    @given(
        xs=st.lists(
            st.floats(-1e4, 1e4, allow_nan=False, allow_subnormal=False),
            min_size=2,
            max_size=8,
            unique=True,
        ),
        ys=st.lists(
            st.floats(-1e3, 1e3, allow_nan=False), min_size=8, max_size=8
        ),
        probes=st.lists(
            st.floats(-2e4, 2e4, allow_nan=False), min_size=1, max_size=40
        ),
    )
    def check(xs, ys, probes):
        import numpy as np
        from gjenbruksstasjoner_kotid_estimering_spark.functions import (
            estimator as est,
        )

        pts = sorted(zip(xs, ys[: len(xs)]))
        # well-separated knots: a subnormal-width segment overflows the
        # slope in both engines and np.interp's NaN behavior is its own
        assume(all(b[0] - a[0] > 1e-6 for a, b in zip(pts, pts[1:])))
        df = spark.createDataFrame(
            [(i, float(x)) for i, x in enumerate(probes)],
            schema="i long, x_pos double",
        )
        out = est.with_interp(df, spark, points=pts).orderBy("i").collect()
        got = np.array([r.meters_interp for r in out])
        expected = np.interp(
            np.array(probes), [p[0] for p in pts], [p[1] for p in pts]
        )
        np.testing.assert_allclose(got, expected, rtol=1e-9, atol=1e-9)

    check()


def test_reference_golden_feature_fixture():
    """Parity with the reference's golden preprocess output
    (test/data/processed_image.bin: pickled float32[58368], values ≥ 0 —
    estimate_queue_test.py:48-52). Read-only fixture check."""
    import os
    import pickle

    import numpy as np

    path = "/root/reference/test/data/processed_image.bin"
    if not os.path.exists(path):
        import pytest

        pytest.skip("reference fixture not present")
    with open(path, "rb") as f:
        arr = pickle.load(f)
    arr = np.asarray(arr)
    assert arr.dtype == np.float32
    assert arr.shape == (58368,)
    assert float(arr.min()) >= 0.0
    assert 5.0 < float(arr.max()) < 20.0


def test_estimator_chain_vs_python_spec(spark):
    """Whole estimator chain ≡ a direct Python transcription of the spec
    (reference estimate_queue.py:91-163 semantics) over random inputs.
    queue_lanes/queue_full stay in [0,1] per the reference's own asserts
    (estimate_queue.py:128-133), queue_end_pos unconstrained."""
    import numpy as np

    rng = np.random.default_rng(7)
    n = 400
    end_pos = np.concatenate(
        [
            rng.uniform(-500, 1500, n - 6),
            np.array([0.0, 300.0, 300.0001, 33.0, 1117.0, -1.0]),
        ]
    )
    lanes_p = rng.uniform(0.0, 1.0, n)
    full_p = rng.uniform(0.0, 1.0, n)

    px = [x for x, _ in est.POINTS]
    py = [y for _, y in est.POINTS]

    def spec(e, lp, fp):
        x = max(float(e), 0.0)
        lanes = round(lp + 1.0)
        meters = max(py) if fp > 0.9 else float(np.interp(x, px, py))
        meters *= lanes
        if x > 300.0:
            meters += 34.0
        else:
            meters = 0.0
        cars = meters * 0.13
        return cars, cars / 74.0

    df = spark.createDataFrame(
        [
            (i, float(e), float(lp), float(fp))
            for i, (e, lp, fp) in enumerate(zip(end_pos, lanes_p, full_p))
        ],
        schema="i long, queue_end_pos double, queue_lanes double, queue_full double",
    )
    got = {r.i: r for r in est.with_queue_estimate(df, spark).collect()}
    for i, (e, lp, fp) in enumerate(zip(end_pos, lanes_p, full_p)):
        cars, hours = spec(e, lp, fp)
        assert got[i].cars == pytest.approx(cars, rel=1e-12, abs=1e-12), (
            i, e, lp, fp, got[i].cars, cars,
        )
        assert got[i].expected_queue_time == pytest.approx(
            hours, rel=1e-12, abs=1e-12
        )


def test_interp_nan_preserves_row_and_propagates(spark):
    """A NaN x_pos must keep its row (left range join) and yield NaN, like
    np.interp(NaN) — not silently vanish (ADVICE r1: inner-join row loss)."""
    import math

    df = spark.createDataFrame(
        [(0, float("nan")), (1, 150.0)], schema="i long, x_pos double"
    )
    out = {r.i: r for r in est.with_interp(df, spark).collect()}
    assert set(out) == {0, 1}  # row count preserved by construction
    assert math.isnan(out[0].meters_interp)
    assert not math.isnan(out[1].meters_interp)


def test_segment_table_plans_as_local_relation(spark):
    """The segment table reaches the broadcast as a JVM-side LocalTableScan,
    never as a Python RDD: a pickled Python RDD would cost every query that
    joins it — every streaming micro-batch — a Python-worker job."""
    df = spark.sql(
        "SELECT * FROM VALUES (500.0D, 0.0D, 0.0D), (100.0D, 1.0D, 0.2D) "
        "AS t(queue_end_pos, queue_lanes, queue_full)"
    )
    out = est.with_queue_estimate(df, spark)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString().splitlines()
    starts = [i for i, line in enumerate(plan) if "BroadcastExchange" in line]
    assert starts, "the segment table is no longer broadcast"
    for i in starts:
        depth = plan[i].index("BroadcastExchange")
        subtree = [plan[i]]
        for line in plan[i + 1:]:
            if len(line) - len(line.lstrip(" :|+-")) <= depth:
                break
            subtree.append(line)
        assert any("LocalTableScan" in line for line in subtree), subtree
        assert not any("ExistingRDD" in line for line in subtree), subtree
    lineage = est.segments_df(spark)._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage
    assert "applySchemaToPythonRDD" not in lineage
