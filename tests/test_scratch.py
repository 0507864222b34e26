"""Hermetic scratch fixtures (scratch.py) — the round-4 flake fix.

The one red driver row of round 4 (`merge_tx_time_travel`, hash mismatch,
judge-unreproducible) was diagnosed as concurrent invocations sharing one
wiped-on-entry scratch dir. These tests pin the fix: unique dirs, age-gated
GC, result detachment, and the actual race scenario re-run safely.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from gjenbruksstasjoner_kotid_estimering_spark import scratch

SF = "/root/testdata/sf0.001"


def test_new_scratch_dirs_never_collide():
    dirs = {scratch.new_scratch_dir("t") for _ in range(8)}
    assert len(dirs) == 8
    for d in dirs:
        assert os.path.isdir(d)
        assert os.path.dirname(d) == scratch.scratch_root()


def test_gc_removes_only_aged_dirs():
    fresh = scratch.new_scratch_dir("fresh")
    stale = scratch.new_scratch_dir("stale")
    old = time.time() - scratch.MAX_AGE_SECONDS - 10
    os.utime(stale, (old, old))
    removed = scratch.gc_scratch()
    assert stale in removed
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)  # young dir survived (may belong to a live run)


def test_gc_runs_on_every_new_scratch_dir():
    stale = scratch.new_scratch_dir("leftover")
    old = time.time() - scratch.MAX_AGE_SECONDS - 10
    os.utime(stale, (old, old))
    scratch.new_scratch_dir("trigger")  # allocating scratch GCs leftovers
    assert not os.path.isdir(stale)


def test_detach_result_survives_scratch_deletion(spark):
    d = scratch.new_scratch_dir("detach")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.parquet(os.path.join(d, "t"))
    df = spark.read.parquet(os.path.join(d, "t")).where(F.col("k") < 10)
    out = scratch.detach_result(df, d)
    assert not os.path.isdir(d)  # scratch gone BEFORE the caller collects
    rows = {r.k: r.v for r in out.collect()}  # ...and the frame still works
    assert rows == {k: 2 * k for k in range(10)}


def test_concurrent_time_travel_invocations_agree(spark):
    """The exact round-4 flake scenario, now safe: two invocations of the
    merge_tx_time_travel fixture overlapping in one session must BOTH
    produce the correct three-version summary (before the fix, the
    second invocation's rmtree corrupted the first's lazy plan)."""
    import threading

    from gjenbruksstasjoner_kotid_estimering_spark.operators.merge_tx import (
        merge_tx_time_travel,
    )

    results: dict[int, list] = {}
    errors: list[Exception] = []

    def run(i: int) -> None:
        try:
            df = merge_tx_time_travel(spark, SF)
            results[i] = sorted(
                (r.version, r.n_rows, r.n_merged, r.acctbal_sum_cents)
                for r in df.collect()
            )
        except Exception as exc:  # noqa: BLE001 — surface in main thread
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert results[0] == results[1]
    versions = [row[0] for row in results[0]]
    assert versions == [1, 2, 3]
    n_rows = {row[0]: row[1] for row in results[0]}
    assert len(set(n_rows.values())) == 1  # merges never change row count


def test_gc_liveness_is_tree_deep_not_top_dir(spark):
    """Regression (round-5 review): a long-running invocation whose top
    scratch dir's mtime froze (all writes land in subdirs — the merge_tx
    table shape) must NOT be reaped while any file in its tree is fresh."""
    live = scratch.new_scratch_dir("longrun")
    sub = os.path.join(live, "data", "part")
    os.makedirs(sub)
    with open(os.path.join(sub, "f.parquet"), "w") as f:
        f.write("x")
    # top dir and intermediate dirs look ancient; the FILE is fresh
    old = time.time() - scratch.MAX_AGE_SECONDS - 10
    os.utime(live, (old, old))
    os.utime(os.path.join(live, "data"), (old, old))
    os.utime(sub, (old, old))
    removed = scratch.gc_scratch()
    assert live not in removed
    assert os.path.isdir(live)
    # and once the file ages out too, the tree is reclaimed
    os.utime(os.path.join(sub, "f.parquet"), (old, old))
    assert live in scratch.gc_scratch()
    assert not os.path.isdir(live)


def test_concurrent_streaming_invocations_agree(spark):
    """Round-5 review regression: the drain harness's queryName and
    memory-sink view are per-invocation now — two overlapping runs of
    the same TRUE-streaming query in one session must both succeed and
    agree (before: 'query with that name is already active' or
    TABLE_OR_VIEW_NOT_FOUND depending on interleaving)."""
    import threading

    from gjenbruksstasjoner_kotid_estimering_spark.registry import all_specs

    builder = all_specs()["stream_tumbling_window_true"].builder
    res: dict[int, list] = {}
    errors: list[Exception] = []

    def run(i: int) -> None:
        try:
            res[i] = sorted(map(tuple, builder(spark, SF).collect()))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert res[0] == res[1] and len(res[0]) > 0


def test_process_cache_dir_is_pid_scoped_and_reaped():
    """The fixture cache lives under a pid-named dir; gc_scratch reaps a
    dead owner's cache immediately but never a live one, regardless of
    age."""
    import os
    import time

    from gjenbruksstasjoner_kotid_estimering_spark import scratch as sc

    mine = sc.process_cache_dir()
    assert f"pidcache-{os.getpid()}" in mine

    # a dead-owner cache (pid 1 is init — alive; use an impossible pid)
    dead = os.path.join(sc.scratch_root(), "pidcache-999999999")
    os.makedirs(dead, exist_ok=True)
    removed = sc.gc_scratch()
    assert dead in removed and not os.path.isdir(dead)

    # my own cache survives gc even when its tree looks ancient
    ancient = time.time() - 10 * sc.MAX_AGE_SECONDS
    os.utime(mine, (ancient, ancient))
    sc.gc_scratch()
    assert os.path.isdir(mine)


def test_seed_and_merges_cached_per_process(spark):
    """Two calls with the same (sf_dir, mods) return the SAME immutable
    table; different mods get distinct tables."""
    from gjenbruksstasjoner_kotid_estimering_spark.operators import merge_tx as mt

    a = mt._seed_and_merges(spark, SF, mods=(7,))
    b = mt._seed_and_merges(spark, SF, mods=(7,))
    c = mt._seed_and_merges(spark, SF, mods=(7, 5))
    assert a == b
    assert c != a
    # cached table is complete: version count matches 1 seed + len(mods)
    assert mt.current_version(a) >= 2
    assert mt.current_version(c) >= 3
