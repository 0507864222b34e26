"""Transactional MERGE sink (operators/merge_tx.py): snapshot isolation,
copy-on-write file pruning, optimistic-concurrency retry, and concurrent
writers."""

from __future__ import annotations

import json
import os
import threading

import pytest
from conftest import jobs_started
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gjenbruksstasjoner_kotid_estimering_spark.operators import merge_tx as mt


def _seed(spark, table_dir, n=100, n_files=4):
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
        )
        .repartitionByRange(n_files, "k")
    )
    mt._write_seed(spark, str(table_dir), df)


def _updates(spark, pairs):
    return spark.createDataFrame(
        [(k, v, o) for k, v, o in pairs], schema="k long, v long, _ord long"
    )


def test_merge_update_and_insert(spark, tmp_path):
    t = tmp_path / "t1"
    _seed(spark, t, n=10)
    v = mt.merge(
        spark,
        str(t),
        _updates(spark, [(3, 999, 1), (42, 777, 1)]),
        key_cols=["k"],
        order_col="_ord",
    )
    assert v == 2
    snap, ver = mt.snapshot(spark, str(t))
    assert ver == 2
    rows = {r["k"]: r["v"] for r in snap.collect()}
    assert len(rows) == 11  # 10 seeded + 1 inserted
    assert rows[3] == 999  # matched → updated
    assert rows[42] == 777  # not matched → inserted
    assert rows[5] == 50  # untouched survivor


def test_lww_within_batch(spark, tmp_path):
    t = tmp_path / "t2"
    _seed(spark, t, n=5)
    mt.merge(
        spark,
        str(t),
        _updates(spark, [(2, 111, 1), (2, 222, 5), (2, 333, 3)]),
        key_cols=["k"],
        order_col="_ord",
    )
    snap, _ = mt.snapshot(spark, str(t))
    rows = {r["k"]: r["v"] for r in snap.collect()}
    assert rows[2] == 222  # highest _ord wins


def test_copy_on_write_preserves_unaffected_files(spark, tmp_path):
    """Files without matched keys must carry into the new manifest BY
    REFERENCE — the zero-data-movement property that makes MERGE viable
    when the batch touches a sliver of a 100 TB table."""
    t = tmp_path / "t3"
    _seed(spark, t, n=100, n_files=4)
    v1_files = set(mt._read_manifest(str(t), 1))
    assert len(v1_files) >= 4
    # range-partitioned seed → keys 0..24 in one file; touch only key 1
    mt.merge(
        spark,
        str(t),
        _updates(spark, [(1, -1, 1)]),
        key_cols=["k"],
        order_col="_ord",
    )
    v2_files = set(mt._read_manifest(str(t), 2))
    carried = v1_files & v2_files
    # at least the files that contain none of the touched key range survive
    assert len(carried) >= len(v1_files) - 1
    assert carried != v1_files  # the affected file was rewritten


def test_snapshot_isolation_old_version_readable(spark, tmp_path):
    """Immutable data files: a reader pinned at v1 sees v1's bytes even
    after v2 commits (no in-place mutation anywhere)."""
    t = tmp_path / "t4"
    _seed(spark, t, n=10)
    v1_files = mt._read_manifest(str(t), 1)
    old = spark.read.parquet(*v1_files)
    mt.merge(
        spark,
        str(t),
        _updates(spark, [(0, 12345, 1)]),
        key_cols=["k"],
        order_col="_ord",
    )
    rows = {r["k"]: r["v"] for r in old.collect()}
    assert rows[0] == 0  # pre-merge value still served from v1 files
    snap, _ = mt.snapshot(spark, str(t))
    assert {r["k"]: r["v"] for r in snap.collect()}[0] == 12345


def test_version_conflict_retries(spark, tmp_path, monkeypatch):
    """Deterministic optimistic-concurrency exercise: a rival commit lands
    between our snapshot read and our commit; the first attempt MUST hit
    VersionConflict and the retry must land on top of the rival state."""
    t = str(tmp_path / "t5")
    _seed(spark, t, n=10)

    real_snapshot = mt.snapshot
    fired = {"done": False}

    def snapshot_with_rival(sp, td):
        df, v = real_snapshot(sp, td)
        if not fired["done"]:
            fired["done"] = True
            # rival writer: commits v+1 re-pointing at the same files
            mt._try_commit(td, v + 1, mt._read_manifest(td, v), df.schema)
        return df, v

    monkeypatch.setattr(mt, "snapshot", snapshot_with_rival)
    v = mt.merge(
        spark,
        t,
        _updates(spark, [(7, 700, 1)]),
        key_cols=["k"],
        order_col="_ord",
    )
    assert v == 3  # attempt at 2 conflicted; retry committed 3
    snap, ver = real_snapshot(spark, t)
    assert ver == 3
    assert {r["k"]: r["v"] for r in snap.collect()}[7] == 700


def test_concurrent_merges_both_land(spark, tmp_path):
    """Two threads MERGE disjoint batches concurrently; whatever the
    interleaving, both must be present in the final snapshot and versions
    must be linear (2 and 3)."""
    t = str(tmp_path / "t6")
    _seed(spark, t, n=20)
    results, errors = [], []

    def work(pairs):
        try:
            results.append(
                mt.merge(
                    spark,
                    t,
                    _updates(spark, pairs),
                    key_cols=["k"],
                    order_col="_ord",
                )
            )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    t1 = threading.Thread(target=work, args=([(1, 101, 1), (2, 102, 1)],))
    t2 = threading.Thread(target=work, args=([(18, 918, 1), (50, 950, 1)],))
    t1.start()
    t2.start()
    t1.join()
    t2.join()
    assert not errors
    assert sorted(results) == [2, 3]
    snap, ver = mt.snapshot(spark, t)
    assert ver == 3
    rows = {r["k"]: r["v"] for r in snap.collect()}
    assert rows[1] == 101 and rows[2] == 102
    assert rows[18] == 918 and rows[50] == 950
    assert len(rows) == 21


def test_commit_files_are_valid_json(spark, tmp_path):
    t = str(tmp_path / "t7")
    _seed(spark, t, n=5)
    with open(mt._commit_path(t, 1)) as f:
        m = json.load(f)
    assert m["version"] == 1
    assert all(os.path.exists(p) for p in m["files"])


def _expected_latest(spark, sf_dir):
    """Batch ground truth: latest (ts, event_id) row per (user, type)."""
    from pyspark.sql import Window as W

    from gjenbruksstasjoner_kotid_estimering_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }


def test_streaming_merge_drain_and_replay(spark, tmp_path):
    """events stream → foreachBatch MERGE: final state equals the batch
    latest-per-key ground truth; a replayed batch (at-least-once
    recovery) advances the version but leaves state unchanged; a re-run
    with the same checkpoint is a no-op."""
    sf = "/root/testdata/sf0.001"
    table = str(tmp_path / "events_merged")
    ckpt = str(tmp_path / "ckpt")

    mt.run_streaming_merge(spark, sf, table, ckpt)
    snap, v1 = mt.snapshot(spark, table)
    got = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in snap.collect()
    }
    assert got == _expected_latest(spark, sf)

    # simulate an at-least-once replay: merge the full source again
    from gjenbruksstasjoner_kotid_estimering_spark.io import load_table

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    writer = mt.merge_batch_writer(
        table, key_cols=["user_id", "event_type"], order_col=["ts", "event_id"]
    )
    writer(ev, batch_id=0)
    snap2, v2 = mt.snapshot(spark, table)
    assert v2 == v1 + 1  # version advanced...
    got2 = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in snap2.collect()
    }
    assert got2 == got  # ...but state is byte-identical (idempotent MERGE)

    # checkpointed re-run: no new files seen → no merge at all
    mt.run_streaming_merge(spark, sf, table, ckpt)
    _, v3 = mt.snapshot(spark, table)
    assert v3 == v2


def test_empty_table_merge_bootstraps(spark, tmp_path):
    t = str(tmp_path / "t8")
    v = mt.merge(
        spark,
        t,
        _updates(spark, [(1, 10, 1)]),
        key_cols=["k"],
        order_col="_ord",
    )
    assert v == 1
    snap, _ = mt.snapshot(spark, t)
    assert snap.count() == 1


def test_time_travel_preserves_old_versions(spark, tmp_path):
    t = str(tmp_path / "tt")
    _seed(spark, t, n=10)  # v1: k=0..9, v = 10k
    mt.merge(spark, t, _updates(spark, [(1, 111, 1)]), ["k"], "_ord")  # v2
    mt.merge(spark, t, _updates(spark, [(2, 222, 1)]), ["k"], "_ord")  # v3
    v1 = {r.k: r.v for r in mt.snapshot_at(spark, t, 1).collect()}
    v2 = {r.k: r.v for r in mt.snapshot_at(spark, t, 2).collect()}
    v3 = {r.k: r.v for r in mt.snapshot_at(spark, t, 3).collect()}
    assert v1[1] == 10 and v1[2] == 20  # v1 untouched by later commits
    assert v2[1] == 111 and v2[2] == 20
    assert v3[1] == 111 and v3[2] == 222
    assert mt.snapshot_at(spark, t, 0) is None
    assert [h["version"] for h in mt.history(t)] == [1, 2, 3]


def test_changes_between_detects_all_change_types(spark, tmp_path):
    t = str(tmp_path / "cdf")
    _seed(spark, t, n=5)  # keys 0..4
    # v2: update k=1, insert k=99
    mt.merge(spark, t, _updates(spark, [(1, 111, 1), (99, 990, 1)]), ["k"], "_ord")
    ch = {
        r.k: (r.change_type, r.v)
        for r in mt.changes_between(spark, t, ["k"], 1, 2).collect()
    }
    assert ch[1] == ("update", 111)
    assert ch[99] == ("insert", 990)
    assert set(ch) == {1, 99}  # unchanged keys emit nothing
    # identical versions → empty feed
    assert mt.changes_between(spark, t, ["k"], 2, 2).count() == 0
    # reversed direction reports the insert as a delete (pre-image kept)
    rev = {
        r.k: r.change_type
        for r in mt.changes_between(spark, t, ["k"], 2, 1).collect()
    }
    assert rev[99] == "delete"


def test_pruned_read_skips_files(spark, tmp_path):
    t = str(tmp_path / "pr")
    df = (
        spark.range(1, 101)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartitionByRange(5, "k")
    )
    mt._write_seed(spark, t, df, stats_col="k")
    out, n_total, n_read = mt.snapshot_pruned(spark, t, 11, 20)
    assert n_total == 5 and 0 < n_read < n_total  # skipping really happened
    got = sorted(r.k for r in out.collect())
    assert got == list(range(11, 21))  # and lost nothing
    # stats survive a MERGE: update one key, re-read the same range
    mt.merge(
        spark, t, _updates(spark, [(15, 999, 1)]), ["k"], "_ord"
    )
    out2, n_total2, n_read2 = mt.snapshot_pruned(spark, t, 11, 20)
    assert {r.k: r.v for r in out2.collect()}[15] == 999
    assert n_read2 < n_total2
    # a range beyond every file reads nothing
    none_df, nt, nr = mt.snapshot_pruned(spark, t, 10_000, 20_000)
    assert nr == 0 and none_df.count() == 0


def test_compact_and_vacuum(spark, tmp_path):
    t = str(tmp_path / "opt")
    df = (
        spark.range(1, 101)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartitionByRange(6, "k")
    )
    mt._write_seed(spark, t, df, stats_col="k")
    mt.merge(spark, t, _updates(spark, [(5, 555, 1)]), ["k"], "_ord")
    before, v_before = mt.snapshot(spark, t)
    content_before = sorted(map(tuple, before.select("k", "v").collect()))
    n_files_before = len(mt._read_manifest(t, v_before))
    v_after = mt.compact(spark, t, max_files=2)
    assert v_after == v_before + 1
    after, _ = mt.snapshot(spark, t)
    assert sorted(map(tuple, after.select("k", "v").collect())) == content_before
    n_files_after = len(mt._read_manifest(t, v_after))
    assert n_files_after < n_files_before
    # compaction preserves per-file stats (pruning still works)
    _, n_total, n_read = mt.snapshot_pruned(spark, t, 1, 10)
    assert n_read < n_total
    # old version stays time-travelable until vacuum
    assert mt.snapshot_at(spark, t, v_before).count() == 100
    # age gate guards live writers; none here, so disable it
    deleted = mt.vacuum(t, retain_versions=1, min_age_seconds=0)
    assert deleted  # pre-compaction files reclaimed
    live, _ = mt.snapshot(spark, t)
    assert sorted(map(tuple, live.select("k", "v").collect())) == content_before


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """After ZORDER BY (x, y), a 100×100 grid written as 16 files must
    let a small x-range OR y-range predicate skip files — stats are on
    the z-value's x column, so check via x; y selectivity shows in the
    z-curve locality (files touched for a y-slice < all files when
    reading manually)."""
    rows = [(x, y, x * 1000 + y) for x in range(100) for y in range(100)]
    df = spark.createDataFrame(rows, schema="x long, y long, payload long")
    z = mt.zorder_value("x", "y")
    clustered = df.repartitionByRange(16, z)
    t = str(tmp_path / "zt")
    mt._write_seed(spark, t, clustered, stats_col="x")
    out, n_total, n_read = mt.snapshot_pruned(spark, t, 0, 5)
    assert n_total == 16
    assert n_read < n_total  # x-range skips files despite 2-D clustering
    assert out.count() == 6 * 100
    # z-interleave is the standard bit pattern
    one = df.where((F.col("x") == 3) & (F.col("y") == 5)).select(z).collect()
    # x=0b011 interleaved at even bits, y=0b101 at odd bits -> 0b100111 = 39
    assert one[0][0] == 39


def test_schema_evolution_add_column(spark, tmp_path):
    t = str(tmp_path / "evo")
    _seed(spark, t, n=10)  # columns (k, v)
    upd = spark.createDataFrame(
        [(1, 111, 7, 1)], schema="k long, v long, extra long, _ord long"
    )
    # without the flag: extra is dropped (fixed-schema contract)
    mt.merge(spark, t, upd, ["k"], "_ord")
    snap, _ = mt.snapshot(spark, t)
    assert "extra" not in snap.columns
    # with the flag: extra becomes a table column, NULL on old rows,
    # and the _ord helper still does NOT leak into the schema
    mt.merge(spark, t, upd, ["k"], "_ord", evolve_schema=True)
    snap, _ = mt.snapshot(spark, t)
    assert "extra" in snap.columns and "_ord" not in snap.columns
    rows = {r.k: r.extra for r in snap.collect()}
    assert rows[1] == 7
    assert all(v is None for k, v in rows.items() if k != 1)


def test_delete_and_update_where(spark, tmp_path):
    t = str(tmp_path / "dml")
    df = (
        spark.range(1, 21)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartitionByRange(4, "k")
    )
    mt._write_seed(spark, t, df, stats_col="k")
    v1 = mt.current_version(t)
    files_v1 = set(mt._read_manifest(t, v1))
    mt.delete_where(spark, t, F.col("k") <= 5)
    # only the file(s) containing k<=5 rewrote; others carried by reference
    files_v2 = set(mt._read_manifest(t, mt.current_version(t)))
    assert files_v1 & files_v2  # untouched files shared between versions
    snap, _ = mt.snapshot(spark, t)
    ks = sorted(r.k for r in snap.collect())
    assert ks == list(range(6, 21))
    mt.update_where(spark, t, F.col("k") == 10, {"v": F.lit(-1)})
    snap2, _ = mt.snapshot(spark, t)
    got = {r.k: r.v for r in snap2.select("k", "v").collect()}
    assert got[10] == -1 and got[11] == 110  # same file, non-matching intact
    # deleting nothing commits nothing new beyond a no-op version? it
    # commits a version with identical files — state unchanged either way
    before = sorted(got.items())
    mt.delete_where(spark, t, F.col("k") > 10_000)
    snap3, _ = mt.snapshot(spark, t)
    after = sorted((r.k, r.v) for r in snap3.select("k", "v").collect())
    assert after == before


def test_model_based_random_dml_sequence(spark, tmp_path):
    """Model-based check of the lakehouse core: a deterministic random
    sequence of MERGE / DELETE / UPDATE / compact operations applied to
    the table AND to a plain dict model must agree at every version,
    and time travel must reproduce every intermediate model state."""
    import random

    rng = random.Random(1729)
    t = str(tmp_path / "model")
    keys = list(range(20))
    model: dict = {k: k * 10 for k in keys}
    df = spark.createDataFrame(
        [(k, v) for k, v in model.items()], schema="k long, v long"
    ).repartitionByRange(3, "k")
    mt._write_seed(spark, t, df, stats_col="k")
    history = [dict(model)]  # model state per committed version

    for _step in range(10):
        op = rng.choice(["merge", "delete", "update", "compact"])
        if op == "merge":
            batch = [
                (rng.randrange(25), rng.randrange(1000), i)
                for i in range(rng.randint(1, 5))
            ]
            # model: LWW by _ord DESC -> highest i wins per key
            lww: dict = {}
            for k, v, o in batch:
                if k not in lww or o > lww[k][1]:
                    lww[k] = (v, o)
            for k, (v, _) in lww.items():
                model[k] = v
            mt.merge(spark, t, _updates(spark, batch), ["k"], "_ord")
        elif op == "delete":
            cut = rng.randrange(25)
            model = {k: v for k, v in model.items() if k % 7 != cut % 7}
            mt.delete_where(spark, t, F.col("k") % 7 == cut % 7)
        elif op == "update":
            cut = rng.randrange(5)
            model = {
                k: (v + 1 if k % 5 == cut else v) for k, v in model.items()
            }
            mt.update_where(
                spark, t, F.col("k") % 5 == cut, {"v": F.col("v") + 1}
            )
        else:
            mt.compact(spark, t, max_files=2)
            # layout-only: model unchanged
        history.append(dict(model))
        snap, v = mt.snapshot(spark, t)
        got = {r.k: r.v for r in snap.select("k", "v").collect()}
        assert got == model, f"divergence after step {_step} ({op})"
        assert v == len(history) - 1 + 1  # seed is version 1

    # time travel reproduces every intermediate state
    for i, state in enumerate(history):
        tv = mt.snapshot_at(spark, t, i + 1)
        got = {r.k: r.v for r in tv.select("k", "v").collect()}
        assert got == state, f"time travel to v{i + 1} diverged"


def test_vacuum_age_gate_spares_fresh_files(spark, tmp_path):
    """Freshly written unreferenced files (an in-flight writer's data)
    survive vacuum under the default age gate."""
    t = str(tmp_path / "vgate")
    _seed(spark, t, n=10)
    mt.compact(spark, t, max_files=1)  # v1 files now unreferenced by tip
    assert mt.vacuum(t, retain_versions=1) == []  # too fresh to delete
    assert mt.snapshot_at(spark, t, 1).count() == 10  # still readable
    assert mt.vacuum(t, retain_versions=1, min_age_seconds=0) != []


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate evaluates NULL
    survive, even when they share a file with a true match."""
    t = str(tmp_path / "nulldel")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 3)], schema="k long, v long"
    ).coalesce(1)  # one file: NULL row co-located with the true match
    mt._write_seed(spark, t, df)
    mt.delete_where(spark, t, F.col("v") > 5)  # true only for k=1
    snap, _ = mt.snapshot(spark, t)
    assert sorted(r.k for r in snap.collect()) == [2, 3]


def test_compact_retry_preserves_concurrent_merge(spark, tmp_path, monkeypatch):
    """A MERGE that commits between compact()'s snapshot and its commit
    must survive the compaction retry (the lost-update scenario)."""
    t = str(tmp_path / "race")
    _seed(spark, t, n=10)
    real_try_commit = mt._try_commit
    fired = {"done": False}

    def racing_commit(table_dir, version, files, **kw):
        if not fired["done"]:
            fired["done"] = True
            # a competing writer lands first, at the version compact wants
            mt.merge(
                spark, t, _updates(spark, [(1, 777, 1)]), ["k"], "_ord"
            )
        return real_try_commit(table_dir, version, files, **kw)

    monkeypatch.setattr(mt, "_try_commit", racing_commit)
    mt.compact(spark, t, max_files=1)
    snap, _ = mt.snapshot(spark, t)
    got = {r.k: r.v for r in snap.collect()}
    assert got[1] == 777  # the concurrent merge's row survived compaction


def test_merge_after_evolution_preserves_wide_survivors(spark, tmp_path):
    """Regression (round-5 advice): merge()'s survivors read must use
    mergeSchema. After an ADD-COLUMN evolution the affected set can mix
    pre-evolution (narrow) and post-evolution (wide) files; a plain read
    takes one file's schema and would silently rewrite evolved-column
    values in wide survivors as NULL."""
    t = str(tmp_path / "evo_mix")
    _seed(spark, t, n=10, n_files=2)  # v1: two narrow files, k=0..9
    # v2: evolution — k=1 and k=6 gain extra (lands in a new WIDE file)
    wide = spark.createDataFrame(
        [(1, 111, 5, 1), (6, 666, 7, 1)],
        schema="k long, v long, extra long, _ord long",
    )
    mt.merge(spark, t, wide, ["k"], "_ord", evolve_schema=True)
    # v3: plain merge touching k=0 (narrow survivor file) AND k=1 (wide
    # file) → affected files mix schemas; k=6 survives inside the wide
    # file and must keep extra=7
    upd = spark.createDataFrame(
        [(0, 100, None, 1), (1, 112, 5, 1)],
        schema="k long, v long, extra long, _ord long",
    )
    mt.merge(spark, t, upd, ["k"], "_ord", evolve_schema=True)
    snap, _ = mt.snapshot(spark, t)
    rows = {r.k: (r.v, r.extra) for r in snap.collect()}
    assert rows[6] == (666, 7)  # wide survivor kept its evolved value
    assert rows[1] == (112, 5)
    assert rows[0] == (100, None)
    assert rows[5] == (50, None)  # untouched narrow rows read NULL extra


def test_changes_between_covers_evolved_columns(spark, tmp_path):
    """Regression (round-5 advice): the CDF payload must be the UNION of
    both versions' columns — a row whose only change is in an evolved
    column must surface, and insert post-images must carry the column."""
    t = str(tmp_path / "cdf_evo")
    _seed(spark, t, n=5)  # v1: k=0..4, v = 10k
    # v2: k=1 keeps v=10 but gains extra=5 (only the evolved column
    # differs); k=99 is a fresh insert carrying extra=9
    upd = spark.createDataFrame(
        [(1, 10, 5, 1), (99, 990, 9, 1)],
        schema="k long, v long, extra long, _ord long",
    )
    mt.merge(spark, t, upd, ["k"], "_ord", evolve_schema=True)
    ch = {
        r.k: (r.change_type, r.v, r.extra)
        for r in mt.changes_between(spark, t, ["k"], 1, 2).collect()
    }
    assert ch[1] == ("update", 10, 5)  # evolved-column-only change seen
    assert ch[99] == ("insert", 990, 9)  # post-image includes the column
    assert set(ch) == {1, 99}


def test_history_hundred_versions_bounded(spark, tmp_path):
    """history()/snapshot_at stay fast deep into the commit log: every
    manifest is complete (no delta replay), so each call is O(1) manifest
    reads — 100 versions of history in well under a second."""
    import time

    t = str(tmp_path / "deep")
    _seed(spark, t, n=10, n_files=1)
    files = mt._read_manifest(t, 1)
    schema = mt.snapshot(spark, t)[0].schema
    for v in range(2, 101):  # manifest-only commits: same file list
        mt._try_commit(t, v, files, schema)
    t0 = time.perf_counter()
    h = mt.history(t)
    dt_history = time.perf_counter() - t0
    assert [e["version"] for e in h] == list(range(1, 101))
    t0 = time.perf_counter()
    assert mt.snapshot_at(spark, t, 50) is not None
    dt_snap = time.perf_counter() - t0
    # generous bounds: the point is O(versions) manifest reads, not a
    # wall-clock SLO — a contended CI box must not flake this
    assert dt_history < 5.0
    assert dt_snap < 5.0


def test_cross_process_concurrent_merges(spark, tmp_path):
    """The docstring's actual claim (merge_tx.py:16-25: os.link
    publication is atomic across PROCESSES, not just threads): two
    independent Spark sessions in separate OS processes race merge() on
    one seeded table dir — exactly one winner per version (distinct
    committed versions), zero lost updates (both batches visible in the
    final snapshot), readable history afterward."""
    import subprocess
    import sys

    t = str(tmp_path / "xproc")
    _seed(spark, t, n=10, n_files=2)  # v1 from THIS process
    script = r"""
import sys
from pyspark.sql import SparkSession
from gjenbruksstasjoner_kotid_estimering_spark.operators import merge_tx as mt

proc = int(sys.argv[1]); table = sys.argv[2]
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName(f"xproc-{proc}")
    .getOrCreate()
)
upd = spark.createDataFrame(
    [(k, 1000 * proc + k, 1) for k in range(proc * 3, proc * 3 + 3)],
    schema="k long, v long, _ord long",
)
v = mt.merge(spark, table, upd, ["k"], "_ord")
print(f"COMMITTED {proc} {v}")
spark.stop()
"""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(i), t],
            cwd=repo_root,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for i in (1, 2)
    ]
    outs = [p.communicate(timeout=300) for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    committed = sorted(
        int(line.split()[2])
        for out, _ in outs
        for line in out.splitlines()
        if line.startswith("COMMITTED")
    )
    # both merges landed at DISTINCT versions: the loser of the race
    # detected the conflict via os.link and retried on the new tip
    assert committed == [2, 3], outs
    assert mt.current_version(t) == 3
    # zero lost updates: both processes' batches are in the final state
    snap, _ = mt.snapshot(spark, t)
    rows = {r.k: r.v for r in snap.collect()}
    for k in range(3, 6):
        assert rows[k] == 1000 + k  # proc 1's batch
    for k in range(6, 9):
        assert rows[k] == 2000 + k  # proc 2's batch
    assert rows[0] == 0 and rows[9] == 90  # untouched seed rows
    assert [h["version"] for h in mt.history(t)] == [1, 2, 3]


def test_sql_surface_version_and_changes(spark, tmp_path):
    """VERSION AS OF + table_changes through spark.sql (round-5 VERDICT
    stretch item): registered views give the SQL access path the
    docstrings cite, with the Delta CDF column convention."""
    t = str(tmp_path / "sqlview")
    _seed(spark, t, n=6)  # v1
    mt.merge(spark, t, _updates(spark, [(2, 222, 1)]), ["k"], "_ord")  # v2
    cur = mt.create_version_view(spark, t, "sqlview")
    old = mt.create_version_view(spark, t, "sqlview", version=1)
    assert (cur, old) == ("sqlview", "sqlview_v1")
    assert (
        spark.sql("SELECT v FROM sqlview WHERE k = 2").collect()[0][0] == 222
    )
    assert (
        spark.sql("SELECT v FROM sqlview_v1 WHERE k = 2").collect()[0][0]
        == 20
    )
    mt.table_changes(spark, t, ["k"], 1, 2).createOrReplaceTempView(
        "sqlview_changes"
    )
    rows = spark.sql(
        "SELECT k, v, _change_type, _commit_version FROM sqlview_changes"
    ).collect()
    assert [(r.k, r.v, r._change_type, r._commit_version) for r in rows] == [
        (2, 222, "update", 2)
    ]


def test_conditional_merge_out_of_order_batches(spark, tmp_path):
    """Round-5 review: LWW must hold ACROSS merges, not just within a
    batch. With conditional=True, a later batch carrying an OLDER
    ordering value cannot regress a key; an equal ordering value (replay)
    idempotently re-applies; a newer one wins."""
    t = str(tmp_path / "cond")
    b1 = spark.createDataFrame(
        [(1, 100, 10), (2, 200, 10)], schema="k long, v long, o long"
    )
    mt.merge(spark, t, b1, ["k"], "o", conditional=True)  # bootstrap
    # batch 2 arrives LATE: older o for k=1, newer for k=2, new key 3
    b2 = spark.createDataFrame(
        [(1, 111, 5), (2, 222, 20), (3, 333, 7)],
        schema="k long, v long, o long",
    )
    mt.merge(spark, t, b2, ["k"], "o", conditional=True)
    snap, _ = mt.snapshot(spark, t)
    rows = {r.k: (r.v, r.o) for r in snap.collect()}
    assert rows[1] == (100, 10)  # stale update rejected
    assert rows[2] == (222, 20)  # newer update applied
    assert rows[3] == (333, 7)  # unmatched → insert
    # exact replay of batch 2 is a no-op on state (ties → update wins,
    # same values either way)
    mt.merge(spark, t, b2, ["k"], "o", conditional=True)
    snap, _ = mt.snapshot(spark, t)
    assert {r.k: (r.v, r.o) for r in snap.collect()} == rows
    # ordering column must exist in the table schema
    import pytest as _pytest

    bad = spark.createDataFrame([(1, 1, 1)], schema="k long, v long, x long")
    with _pytest.raises(ValueError, match="ordering column"):
        mt.merge(spark, t, bad, ["k"], "x", conditional=True)


def test_merge_batch_writer_out_of_order_microbatches(spark, tmp_path):
    """The streaming sink's exact configuration (merge_batch_writer with
    conditional=True, as run_streaming_merge wires it): micro-batches
    applied in the wrong event-time order still converge to global
    latest-per-key — the property stream_merge_sink_true's oracle
    assumes under arbitrary batch packing."""
    t = str(tmp_path / "oob_sink")
    writer = mt.merge_batch_writer(
        t, key_cols=["k"], order_col=["ts", "eid"], conditional=True
    )
    newer = spark.createDataFrame(
        [(1, 100, 20, 2), (2, 200, 20, 2)], schema="k long, v long, ts long, eid long"
    )
    older = spark.createDataFrame(
        [(1, 111, 10, 1), (3, 333, 10, 1)], schema="k long, v long, ts long, eid long"
    )
    writer(newer, 0)  # batch 0 carries the NEWER events
    writer(older, 1)  # batch 1 arrives later but is event-time OLDER
    snap, _ = mt.snapshot(spark, t)
    rows = {r.k: (r.v, r.ts) for r in snap.collect()}
    assert rows[1] == (100, 20)  # stale batch could not regress k=1
    assert rows[2] == (200, 20)
    assert rows[3] == (333, 10)  # genuinely new key still inserted


def test_conditional_evolve_stale_update_rejected_on_evolved_column(
    spark, tmp_path
):
    """Round-6: conditional MERGE composed with ADD-COLUMN evolution.
    A STALE update carrying the evolved column must lose whole-row: it
    neither regresses existing columns nor injects its evolved-column
    value over the newer target row."""
    t = str(tmp_path / "evocond")
    b1 = spark.createDataFrame(
        [(1, 100, 10), (2, 200, 10)], schema="k long, v long, o long"
    )
    mt.merge(spark, t, b1, ["k"], "o", conditional=True)  # bootstrap
    # evolving batch: new column 'extra'; stale for k=1, fresh for k=2,
    # insert for k=3
    b2 = spark.createDataFrame(
        [(1, 111, 5, 9), (2, 222, 20, 8), (3, 333, 7, 7)],
        schema="k long, v long, o long, extra long",
    )
    mt.merge(spark, t, b2, ["k"], "o", conditional=True, evolve_schema=True)
    snap, _ = mt.snapshot(spark, t)
    rows = {r.k: (r.v, r.o, r.extra) for r in snap.collect()}
    assert rows[1] == (100, 10, None)  # stale: balance kept, NO extra
    assert rows[2] == (222, 20, 8)  # fresh: evolved column lands
    assert rows[3] == (333, 7, 7)  # insert carries evolved column
    # a later conditional merge WITHOUT the evolved column still works
    # (fixed-schema projection requires all table cols — so pass them)
    b3 = spark.createDataFrame(
        [(1, 150, 30, None)], schema="k long, v long, o long, extra long"
    )
    mt.merge(spark, t, b3, ["k"], "o", conditional=True)
    snap, _ = mt.snapshot(spark, t)
    assert {r.k: (r.v, r.o) for r in snap.collect()}[1] == (150, 30)


def test_merge_coerces_type_drifting_updates(spark, tmp_path):
    """Round-6 (ADVICE follow-through): evolution is ADD-COLUMN only.
    A batch whose EXISTING-column type drifts (long updates on an int
    column) must be coerced to the table's declared type — otherwise the
    commit would mix int and long parquet files in one manifest and
    every later mergeSchema read throws CANNOT_MERGE_SCHEMAS."""
    t = str(tmp_path / "typedrift")
    v1 = spark.createDataFrame([(1, 10), (2, 20)], schema="k long, v int")
    mt._write_seed(spark, t, v1)
    upd = spark.createDataFrame(
        [(2, 21, 1), (3, 30, 1)], schema="k long, v long, _ord long"
    )
    mt.merge(spark, t, upd, ["k"], "_ord", evolve_schema=True)
    snap, _ = mt.snapshot(spark, t)  # would throw pre-fix
    assert dict(snap.dtypes)["v"] == "int"  # table type wins
    assert {r.k: r.v for r in snap.collect()} == {1: 10, 2: 21, 3: 30}


def test_changes_between_type_changing_versions(spark, tmp_path):
    """Round-6 (ADVICE): changes_between across versions whose shared
    column changed type (int v1, long v2 — e.g. a table rebuilt by an
    external writer) must not blow up the full_outer struct comparison;
    post-images come back in the newer (v_to) type."""
    t = str(tmp_path / "typeevo")
    v1 = spark.createDataFrame([(1, 10), (2, 20)], schema="k long, v int")
    mt._write_seed(spark, t, v1)
    v2 = spark.createDataFrame(
        [(1, 10), (2, 21), (3, 30)], schema="k long, v long"
    )
    files, stats = mt._write_data_file(v2, t, None)
    mt._try_commit(t, 2, files, v2.schema, stats_col=None, stats=stats)
    cdf = mt.changes_between(spark, t, ["k"], 1, 2)
    rows = {r.k: (r.change_type, r.v) for r in cdf.collect()}
    assert rows[2] == ("update", 21)
    assert rows[3] == ("insert", 30)
    assert 1 not in rows  # unchanged (int 10 == long 10 after unification)
    assert dict(cdf.dtypes)["v"] == "bigint"


def test_when_matched_delete_clause(spark, tmp_path):
    """Round-6: WHEN MATCHED AND cond THEN DELETE. Matched+cond rows are
    removed, matched without cond update, unmatched delete rows never
    insert, unmatched plain rows insert."""
    t = str(tmp_path / "mdel")
    _seed(spark, t, n=10)
    upd = _updates(
        spark,
        [
            (1, -1, 1),  # matched, v<0 → DELETE
            (2, 25, 1),  # matched → update
            (11, -5, 1),  # unmatched + delete cond → no-op
            (12, 120, 1),  # unmatched → insert
        ],
    )
    mt.merge(
        spark, t, upd, ["k"], "_ord",
        delete_condition=F.col("v") < 0,
    )
    snap, _ = mt.snapshot(spark, t)
    rows = {r.k: r.v for r in snap.collect()}
    assert 1 not in rows and 11 not in rows
    assert rows[2] == 25 and rows[12] == 120
    assert len(rows) == 10  # 10 seed - 1 deleted + 1 inserted


def test_conditional_delete_stale_cannot_remove(spark, tmp_path):
    """Round-6: delete clause under conditional (cross-merge LWW): a
    STALE delete row loses the ordering window to the newer target row
    and must NOT remove the key; a fresh delete does; replaying the
    fresh delete is idempotent."""
    t = str(tmp_path / "cdel")
    b1 = spark.createDataFrame(
        [(1, 100, 10), (2, 200, 10)], schema="k long, v long, o long"
    )
    mt.merge(spark, t, b1, ["k"], "o", conditional=True)
    late_delete = spark.createDataFrame(
        [(1, -1, 5), (2, -1, 20)], schema="k long, v long, o long"
    )
    mt.merge(
        spark, t, late_delete, ["k"], "o",
        conditional=True, delete_condition=F.col("v") < 0,
    )
    snap, _ = mt.snapshot(spark, t)
    rows = {r.k: (r.v, r.o) for r in snap.collect()}
    assert rows[1] == (100, 10)  # stale delete rejected
    assert 2 not in rows  # fresh delete applied
    # replay: still exactly the same state
    mt.merge(
        spark, t, late_delete, ["k"], "o",
        conditional=True, delete_condition=F.col("v") < 0,
    )
    snap, _ = mt.snapshot(spark, t)
    assert {r.k: (r.v, r.o) for r in snap.collect()} == rows


def test_sync_delete_scope_clause(spark, tmp_path):
    """Round-6: WHEN NOT MATCHED BY SOURCE AND scope THEN DELETE.
    In-scope unmatched target rows are removed; out-of-scope unmatched
    rows survive; matched rows update; unmatched batch keys insert —
    all in one commit. Untouched out-of-scope files carry by ref."""
    t = str(tmp_path / "sync")
    _seed(spark, t, n=10)  # keys 0..9
    upd = _updates(spark, [(2, 222, 1), (4, 444, 1), (20, 200, 1)])
    mt.merge(
        spark, t, upd, ["k"], "_ord",
        sync_delete_scope=F.col("k") < 5,
    )
    snap, _ = mt.snapshot(spark, t)
    rows = {r.k: r.v for r in snap.collect()}
    # scope = k<5: unmatched 0,1,3 deleted; matched 2,4 updated
    assert 0 not in rows and 1 not in rows and 3 not in rows
    assert rows[2] == 222 and rows[4] == 444
    # out of scope: 5..9 survive untouched; new key 20 inserted
    assert all(rows[k] == k * 10 for k in range(5, 10))
    assert rows[20] == 200
    assert len(rows) == 8
    # conditional + sync is rejected
    with pytest.raises(ValueError, match="sync_delete_scope"):
        mt.merge(
            spark, t, upd, ["k"], "_ord",
            conditional=True, sync_delete_scope=F.col("k") < 5,
        )


def test_full_clause_matrix_single_call(spark, tmp_path):
    """Round-6: all four MERGE clause arms in ONE call — the joint truth
    table, including the interaction corners (a matched-delete key in
    the sync scope deletes exactly once; a sync-scoped file's matched
    rows still update; an insert is unaffected by the scope)."""
    t = str(tmp_path / "matrix")
    _seed(spark, t, n=10)  # keys 0..9, v = k*10
    upd = _updates(
        spark,
        [
            (2, -1, 1),  # matched + delete cond (even: also in scope)
            (3, -1, 1),  # matched + delete cond (odd: outside scope)
            (4, 44, 1),  # matched update, in scope → must still update
            (5, 55, 1),  # matched update, outside scope
            (20, 200, 1),  # insert (even key — scope must not block it)
            (21, -9, 1),  # unmatched + delete cond → no-op
        ],
    )
    mt.merge(
        spark, t, upd, ["k"], "_ord",
        delete_condition=F.col("v") < 0,
        sync_delete_scope=F.col("k") % 2 == 0,
    )
    snap, _ = mt.snapshot(spark, t)
    rows = {r.k: r.v for r in snap.collect()}
    assert 2 not in rows and 3 not in rows  # matched deletes, both parities
    assert rows[4] == 44 and rows[5] == 55  # updates land either side
    assert rows[20] == 200 and 21 not in rows
    # sync arm: unmatched EVEN keys gone, unmatched ODD keys intact
    assert all(k not in rows for k in (0, 6, 8))
    assert all(rows[k] == k * 10 for k in (1, 7, 9))
    assert len(rows) == 6  # 4,5,20 + 1,7,9


def test_streaming_merge_crash_before_manifest_commit(spark, monkeypatch, tmp_path):
    """A stream whose merge dies after writing its data files but before
    publishing the manifest: the restarted query replays the batch from its
    checkpoint, the table equals a last-write-wins replay of every input
    row, and vacuum reclaims exactly the crashed attempt's orphan files."""
    from pyspark.errors import StreamingQueryException

    src = tmp_path / "in"
    src.mkdir()
    rows = []
    for f in range(3):
        part = [
            (k, 100 * f + k, (7 * k + 5 * f) % 11, 100 * f + k)
            for k in range(f, f + 8)
        ]
        (src / f"part{f}.json").write_text(
            "\n".join(
                json.dumps({"k": k, "v": v, "ts": ts, "eid": eid})
                for k, v, ts, eid in part
            )
        )
        rows += part
    t = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema("k long, v long, ts long, eid long")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        query = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                mt.merge_batch_writer(
                    t, key_cols=["k"], order_col=["ts", "eid"], conditional=True
                )
            )
            .start()
        )
        query.awaitTermination()

    real_commit = mt._try_commit
    orphans: list[str] = []

    def crash_once(table_dir, version, files, **kw):
        if version == 2 and not orphans:
            orphans.extend(files)
            raise RuntimeError("crash between data-file write and commit")
        return real_commit(table_dir, version, files, **kw)

    monkeypatch.setattr(mt, "_try_commit", crash_once)
    with pytest.raises(StreamingQueryException):
        drain()
    assert orphans and all(os.path.exists(f) for f in orphans)
    assert mt.current_version(t) == 1  # the crashed batch published nothing

    monkeypatch.setattr(mt, "_try_commit", real_commit)
    drain()

    latest: dict = {}
    for k, v, ts, eid in rows:
        if k not in latest or (ts, eid) > latest[k][1:]:
            latest[k] = (v, ts, eid)
    snap, version = mt.snapshot(spark, t)
    assert {r.k: (r.v, r.ts, r.eid) for r in snap.collect()} == latest
    assert version == 3  # one commit per batch; the crash left no gap

    referenced = set()
    for v in range(1, version + 1):
        referenced.update(mt._read_manifest(t, v))
    deleted = mt.vacuum(t, retain_versions=version, min_age_seconds=0)
    assert sorted(deleted) == sorted(orphans)
    assert not any(os.path.exists(os.path.dirname(f)) for f in orphans)
    assert all(os.path.exists(f) for f in referenced)
    snap, _ = mt.snapshot(spark, t)
    assert {r.k: (r.v, r.ts, r.eid) for r in snap.collect()} == latest


# --- table schema recorded in each manifest ----------------------------


def _inferred(spark, t, version):
    """A version's files read by footer inference (mergeSchema)."""
    files = mt._read_manifest(t, version)
    return spark.read.option("mergeSchema", "true").parquet(*files)


def test_snapshot_starts_no_spark_job(spark, tmp_path):
    """A dashboard read plans from the manifest's recorded schema: building
    the snapshot frame opens no footer and starts no Spark job."""
    t = str(tmp_path / "nojob")
    _seed(spark, t, n=20)
    mt.merge(spark, t, _updates(spark, [(3, 33, 1)]), ["k"], "_ord")
    got = {}

    def read():
        snap, _ = mt.snapshot(spark, t)
        got["columns"] = snap.columns

    assert jobs_started(spark, "merge_tx_snapshot_probe", read) == 0
    assert got["columns"] == ["k", "v"]


def test_recorded_schema_matches_inferred_after_evolution(spark, tmp_path):
    """After a conditional and a plain ADD-COLUMN evolution, snapshot()
    returns the column names, order and rows a mergeSchema read of the same
    files returns — the recorded schema is the inferred one, without the
    inference job."""
    t = str(tmp_path / "evo_recorded")
    b1 = spark.createDataFrame(
        [(1, 100, 10), (2, 200, 10), (4, 400, 10)], schema="k long, v long, o long"
    )
    mt.merge(spark, t, b1, ["k"], "o", conditional=True)
    b2 = spark.createDataFrame(
        [(1, 111, 5, 9), (2, 222, 20, 8), (3, 333, 7, 7)],
        schema="k long, v long, o long, extra long",
    )
    mt.merge(spark, t, b2, ["k"], "o", conditional=True, evolve_schema=True)
    b3 = spark.createDataFrame(
        [(2, 223, 30, None, "x", 1), (5, 555, 30, 5, "y", 1)],
        schema="k long, v long, o long, extra long, tag string, _ord long",
    )
    mt.merge(spark, t, b3, ["k"], "_ord", evolve_schema=True)
    for version in (2, 3):
        recorded = mt.snapshot_at(spark, t, version)
        inferred = _inferred(spark, t, version)
        assert recorded.columns == inferred.columns
        assert recorded.schema == inferred.schema
        assert sorted(recorded.collect()) == sorted(
            inferred.select(*recorded.columns).collect()
        )
    snap, _ = mt.snapshot(spark, t)
    assert snap.columns == ["k", "v", "o", "extra", "tag"]


def test_manifest_without_schema_does_not_read(spark, tmp_path):
    """``schema`` is a required manifest field: a manifest without it is
    not read by inferring the files' footers."""
    t = str(tmp_path / "schemaless")
    files = mt._write_data_file(_updates(spark, [(1, 10, 1)]), t, None)[0]
    os.makedirs(os.path.join(t, "_commits"))
    with open(mt._commit_path(t, 1), "w") as f:
        json.dump({"version": 1, "files": files}, f, indent=0)
    with pytest.raises(KeyError, match="schema"):
        mt.snapshot(spark, t)


@pytest.mark.parametrize("conditional", [True, False])
def test_merge_job_count_guard(spark, tmp_path, conditional):
    """A 5-row MERGE into a 2-file table — the benchmark's commit path —
    starts at most 6 Spark jobs, conditional or not."""
    t = str(tmp_path / "jobs")
    seed = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit(0).cast("long").alias("_ord"),
    )
    mt._write_seed(spark, t, seed.repartitionByRange(2, "k"))
    assert len(mt._read_manifest(t, 1)) == 2
    upd = _updates(
        spark, [(1, 100, 1), (3, 300, 1), (5, 500, 1), (41, 410, 1), (42, 420, 1)]
    )
    jobs = jobs_started(
        spark,
        f"merge_tx_job_guard_{conditional}",
        lambda: mt.merge(spark, t, upd, ["k"], "_ord", conditional=conditional),
    )
    assert jobs <= 6
    snap, _ = mt.snapshot(spark, t)
    assert snap.count() == 42


def _committer_cases(spark, t):
    """(write, expected {k: v} after it) per table writer, for a table
    seeded with ``_seed(n=12)`` (``write_seed``: an empty table;
    ``restore_version``: the seed, then k=1 merged to -1)."""
    seed = {k: 10 * k for k in range(12)}
    return {
        "plain_merge": (
            lambda: mt.merge(
                spark, t, _updates(spark, [(3, 33, 1), (42, 420, 1)]), ["k"], "_ord"
            ),
            {**seed, 3: 33, 42: 420},
        ),
        # ordered by v: 33 beats 30, 1 loses to 40
        "conditional_merge": (
            lambda: mt.merge(
                spark,
                t,
                _updates(spark, [(3, 33, 1), (4, 1, 1), (42, 420, 1)]),
                ["k"],
                "v",
                conditional=True,
            ),
            {**seed, 3: 33, 42: 420},
        ),
        "compact": (lambda: mt.compact(spark, t), seed),
        "delete_where": (
            lambda: mt.delete_where(spark, t, F.col("k") == 4),
            {k: v for k, v in seed.items() if k != 4},
        ),
        "update_where": (
            lambda: mt.update_where(spark, t, F.col("k") == 5, {"v": F.lit(-5)}),
            {**seed, 5: -5},
        ),
        "write_seed": (
            lambda: mt._write_seed(
                spark, t, spark.range(12).select("id", F.col("id") * 10).toDF("k", "v")
            ),
            seed,
        ),
        "restore_version": (lambda: mt.restore_version(t, 1), seed),
    }


@pytest.mark.parametrize(
    "committer",
    [
        "plain_merge",
        "conditional_merge",
        "compact",
        "delete_where",
        "update_where",
        "write_seed",
        "restore_version",
    ],
)
def test_every_committer_survives_a_version_conflict(
    spark, tmp_path, monkeypatch, committer
):
    """Each table writer's first commit attempt hits a VersionConflict: the
    write lands at the next version with the right rows, and the failed
    attempt leaves no data directory behind."""
    t = str(tmp_path / committer)
    if committer != "write_seed":
        _seed(spark, t, n=12)
    if committer == "restore_version":
        mt.merge(spark, t, _updates(spark, [(1, -1, 1)]), ["k"], "_ord")
    write, expected = _committer_cases(spark, t)[committer]
    base = mt.current_version(t)
    real_commit = mt._try_commit
    attempts = []

    def conflict_once(table_dir, version, files, **kw):
        attempts.append(version)
        if len(attempts) == 1:
            raise mt.VersionConflict("injected")
        return real_commit(table_dir, version, files, **kw)

    monkeypatch.setattr(mt, "_try_commit", conflict_once)
    assert write() == base + 1
    assert attempts == [base + 1, base + 1]
    snap, version = mt.snapshot(spark, t)
    assert version == base + 1
    assert {r.k: r.v for r in snap.collect()} == expected
    referenced = {
        os.path.dirname(f)
        for v in range(1, version + 1)
        for f in mt._read_manifest(t, v)
    }
    data = os.path.join(t, "data")
    assert {os.path.join(data, d) for d in os.listdir(data)} == referenced


def test_every_committer_records_schema(spark, tmp_path):
    """Bootstrap, _write_seed, both merge branches, compact, delete_where,
    update_where and restore_version each write the table schema into
    their manifest."""

    def recorded(t):
        with open(mt._commit_path(t, mt.current_version(t))) as f:
            body = json.load(f)
        assert "schema" in body, body
        return StructType.fromJson(body["schema"]).fieldNames()

    boot = str(tmp_path / "boot")
    mt.merge(spark, boot, _updates(spark, [(1, 10, 1)]), ["k"], "_ord")
    assert recorded(boot) == ["k", "v", "_ord"]
    mt.merge(
        spark, boot, _updates(spark, [(1, 11, 2)]), ["k"], "_ord", conditional=True
    )
    assert recorded(boot) == ["k", "v", "_ord"]

    t = str(tmp_path / "committers")
    _seed(spark, t, n=12)
    assert recorded(t) == ["k", "v"]
    mt.merge(spark, t, _updates(spark, [(3, 33, 1)]), ["k"], "_ord")
    assert recorded(t) == ["k", "v"]
    mt.compact(spark, t)
    assert recorded(t) == ["k", "v"]
    mt.delete_where(spark, t, F.col("k") == 4)
    assert recorded(t) == ["k", "v"]
    mt.update_where(spark, t, F.col("k") == 5, {"v": F.lit(-5)})
    assert recorded(t) == ["k", "v"]
    assert dict(mt.snapshot(spark, t)[0].dtypes)["v"] == "bigint"
    before = mt.current_version(t)
    with pytest.raises(ValueError, match="nope"):
        mt.update_where(spark, t, F.col("k") == 5, {"nope": F.lit(1)})
    assert mt.current_version(t) == before
    mt.restore_version(t, 1)
    assert recorded(t) == ["k", "v"]


def test_empty_microbatch_commits_nothing(spark, tmp_path):
    """An empty parquet tick in the watched dir runs a micro-batch with no
    rows: the conditional MERGE sink commits no version, and the next
    non-empty tick still commits last-write-wins state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    watch, staging = tmp_path / "watch", tmp_path / "staging"
    watch.mkdir()
    staging.mkdir()
    t = str(tmp_path / "table")
    schema = pa.schema([(c, pa.int64()) for c in ("k", "v", "ts", "eid")])

    def land(name, rows):
        """(k, v, ts, eid) rows as one parquet file, moved in atomically."""
        tmp = staging / f"{name}.parquet"
        table = pa.Table.from_pylist(
            [dict(zip(("k", "v", "ts", "eid"), r)) for r in rows], schema=schema
        )
        pq.write_table(table, tmp)
        os.rename(tmp, watch / f"{name}.parquet")

    query = (
        spark.readStream.schema("k long, v long, ts long, eid long")
        .parquet(str(watch))
        .writeStream.foreachBatch(
            mt.merge_batch_writer(
                t, key_cols=["k"], order_col=["ts", "eid"], conditional=True
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        land("t0", [(1, 10, 1, 1), (2, 20, 1, 2)])
        query.processAllAvailable()
        assert mt.current_version(t) == 1
        land("t1", [])
        query.processAllAvailable()
        assert query.lastProgress["batchId"] == 1
        assert query.lastProgress["numInputRows"] == 0
        assert mt.current_version(t) == 1
        land("t2", [(2, 21, 2, 3), (3, 30, 2, 4)])
        query.processAllAvailable()
    finally:
        query.stop()
    assert mt.current_version(t) == 2
    snap, _ = mt.snapshot(spark, t)
    assert {r.k: r.v for r in snap.collect()} == {1: 10, 2: 21, 3: 30}
