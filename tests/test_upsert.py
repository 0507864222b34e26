"""Keyed upsert semantics (reference estimate_queue_test.py:103-114:
write (99, '1593672630', {foo:1.2, bar:3.4}) then read it back; update_item
last-write-wins)."""

from __future__ import annotations

from gjenbruksstasjoner_kotid_estimering_spark.operators.upsert import (
    apply_upserts,
    latest_per_key,
)


def test_write_then_read_back(spark):
    target = spark.createDataFrame(
        [], schema="station_id long, ts string, foo double, bar double, seq long"
    )
    changes = spark.createDataFrame(
        [(99, "1593672630", 1.2, 3.4, 1)],
        schema="station_id long, ts string, foo double, bar double, seq long",
    )
    merged = apply_upserts(
        target, changes, key_cols=["station_id", "ts"], order_cols=["seq"]
    ).collect()
    assert len(merged) == 1
    row = merged[0]
    assert (row.station_id, row.ts, row.foo, row.bar) == (99, "1593672630", 1.2, 3.4)


def test_last_write_wins(spark):
    target = spark.createDataFrame(
        [(41, "t1", 1.0, 0.0, 1), (41, "t2", 2.0, 0.0, 1)],
        schema="station_id long, ts string, foo double, bar double, seq long",
    )
    changes = spark.createDataFrame(
        [(41, "t1", 10.0, 9.0, 2), (7, "t1", 5.0, 5.0, 2)],
        schema="station_id long, ts string, foo double, bar double, seq long",
    )
    merged = apply_upserts(
        target, changes, key_cols=["station_id", "ts"], order_cols=["seq"]
    )
    got = {(r.station_id, r.ts): (r.foo, r.bar) for r in merged.collect()}
    assert got == {
        (41, "t1"): (10.0, 9.0),  # updated
        (41, "t2"): (2.0, 0.0),   # untouched
        (7, "t1"): (5.0, 5.0),    # inserted
    }


def test_latest_per_key_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 10, 100.0), (1, 10, 200.0)], schema="k long, ts long, v double"
    )
    # equal ts: the later order col (here v) breaks the tie deterministically
    out = latest_per_key(df, key_cols=["k"], order_cols=["ts", "v"]).collect()
    assert len(out) == 1 and out[0].v == 200.0


def test_random_upsert_replay_matches_dict(spark):
    """apply_upserts over random batched write sequences == a Python dict
    replay (the DynamoDB last-write-wins model, estimate_queue.py:166-178)."""
    import random

    rng = random.Random(13)
    writes = [
        (rng.randrange(5), str(rng.randrange(3)), rng.random(), seq)
        for seq in range(200)
    ]
    expected: dict = {}
    for sid, ts, v, seq in writes:
        expected[(sid, ts)] = v

    schema = "station_id long, ts string, v double, seq long"
    target = spark.createDataFrame([], schema)
    # apply in 4 uneven batches, like micro-batches arriving
    from gjenbruksstasjoner_kotid_estimering_spark.operators.upsert import (
        apply_upserts,
    )

    bounds = [0, 37, 100, 151, 200]
    for lo, hi in zip(bounds, bounds[1:]):
        batch = spark.createDataFrame(writes[lo:hi], schema)
        target = apply_upserts(
            target, batch, key_cols=["station_id", "ts"], order_cols=["seq"]
        ).localCheckpoint(eager=True)  # fix lineage between batches
    got = {(r.station_id, r.ts): r.v for r in target.collect()}
    assert got == expected


def test_sink_shape_key_ignores_session_timezone(spark):
    """The RANGE key is the epoch of ts's wall-clock reading on any session
    timezone: on Europe/Oslo the rows still equal the DuckDB oracle."""
    import scripts.compare as cmp
    from conftest import SF0001 as sf
    from gjenbruksstasjoner_kotid_estimering_spark import registry

    spec = registry.all_specs()["upsert_sink_shape"]
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "Europe/Oslo")
    try:
        got = spec.builder(spark, sf).toPandas()
    finally:
        spark.conf.set(key, prev)
    con = cmp.duck_con(sf)
    try:
        want = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    problems = cmp.compare("upsert_sink_shape", got, want)
    assert not problems, problems
