"""Multi-table transaction log: crash atomicity, cross-table snapshot
consistency, single-winner conflicts."""

from __future__ import annotations

import shutil
import threading

import pytest
from pyspark.sql import functions as F

from gjenbruksstasjoner_kotid_estimering_spark.operators import txn
from gjenbruksstasjoner_kotid_estimering_spark.operators.merge_tx import (
    VersionConflict,
)
from gjenbruksstasjoner_kotid_estimering_spark.scratch import new_scratch_dir


@pytest.fixture()
def root():
    d = new_scratch_dir("txn_unit")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _seed(spark, root):
    base = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("cents")
    )
    txn.txn_commit(root, 1, {"a": txn.txn_stage(base, root, "a")})
    return base


def test_staged_but_uncommitted_is_invisible(spark, root):
    base = _seed(spark, root)
    before_a = sorted(map(tuple, txn.txn_snapshot(spark, root, "a").collect()))
    # stage writes to BOTH tables, then "crash" before commit
    txn.txn_stage(base.withColumn("cents", F.col("cents") + 1), root, "a")
    txn.txn_stage(base.select("k"), root, "b")
    assert txn.txn_current_version(root) == 1
    assert (
        sorted(map(tuple, txn.txn_snapshot(spark, root, "a").collect()))
        == before_a
    )
    assert txn.txn_snapshot(spark, root, "b") is None


def test_commit_flips_all_tables_together(spark, root):
    base = _seed(spark, root)
    debited = base.withColumn("cents", F.col("cents") - 5)
    audit = base.select("k", F.lit(-5).alias("delta"))
    txn.txn_commit(
        root,
        2,
        {
            "a": txn.txn_stage(debited, root, "a"),
            "b": txn.txn_stage(audit, root, "b"),
        },
    )
    # same-version reads are mutually consistent: conservation holds
    a2 = txn.txn_snapshot(spark, root, "a", version=2)
    b2 = txn.txn_snapshot(spark, root, "b", version=2)
    a1 = txn.txn_snapshot(spark, root, "a", version=1)
    sum1 = a1.agg(F.sum("cents")).collect()[0][0]
    sum2 = a2.agg(F.sum("cents")).collect()[0][0]
    deltas = b2.agg(F.sum("delta")).collect()[0][0]
    assert sum2 == sum1 + deltas
    # v1 still shows NO audit table — time travel across the group
    assert txn.txn_snapshot(spark, root, "b", version=1) is None


def test_snapshot_starts_no_job(spark, root):
    """A read plans from the schema the commit records: building the
    frame opens no footer, so it starts no Spark job."""
    from conftest import jobs_started

    _seed(spark, root)
    out = []
    assert jobs_started(
        spark, "txn-snapshot", lambda: out.append(txn.txn_snapshot(spark, root, "a"))
    ) == 0
    assert out[0].columns == ["k", "cents"]
    assert sorted(r.k for r in out[0].collect()) == list(range(10))


def test_same_version_has_exactly_one_winner(spark, root):
    base = _seed(spark, root)
    files = txn.txn_stage(base, root, "a")
    results = []

    def attempt():
        try:
            txn.txn_commit(root, 2, {"a": files})
            results.append("ok")
        except VersionConflict:
            results.append("conflict")

    threads = [threading.Thread(target=attempt) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(results) == ["conflict"] * 7 + ["ok"]
    assert txn.txn_current_version(root) == 2


def test_registry_row_conservation(spark):
    from conftest import SF0001

    out = {
        r.tbl: (r.n_rows, r.total_cents)
        for r in txn.txn_multi_table_atomic(spark, SF0001).collect()
    }
    from gjenbruksstasjoner_kotid_estimering_spark.io import load_table

    base = load_table(spark, SF0001, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    n = base.count()
    total_before = base.agg(F.sum("cents")).collect()[0][0]
    n_debited = base.where(F.col("c_custkey") % txn.DEBIT_MOD == 0).count()
    assert out["balances"] == (
        n,
        total_before - n_debited * txn.TRANSFER_CENTS,
    )
    assert out["audit"] == (n_debited, -n_debited * txn.TRANSFER_CENTS)


def test_stream_txn_replayed_batch_is_noop(spark, root):
    """foreachBatch at-least-once replays must not double-apply: the
    batch-id ledger in the commit metadata dedupes them."""
    from gjenbruksstasjoner_kotid_estimering_spark.streaming import txn_stream

    batch = spark.range(6).select(
        (F.col("id") % 3).alias("user_id"), F.lit(10).alias("cents")
    )
    writer = txn_stream.txn_batch_writer(root)
    writer(batch, 0)
    v_after = txn.txn_current_version(root)
    state = sorted(
        map(tuple, txn.txn_snapshot(spark, root, "balances").collect())
    )
    writer(batch, 0)  # replay of the SAME batch id
    assert txn.txn_current_version(root) == v_after  # no new commit
    assert (
        sorted(map(tuple, txn.txn_snapshot(spark, root, "balances").collect()))
        == state
    )
    writer(batch, 1)  # a NEW batch id applies normally
    doubled = sorted(
        map(tuple, txn.txn_snapshot(spark, root, "balances").collect())
    )
    assert doubled == [(u, c * 2) for (u, c) in state]
    audit = txn.txn_snapshot(spark, root, "audit").collect()
    assert sorted({r.batch_id for r in audit}) == [0, 1]


def test_stream_txn_registry_row_matches_batch(spark):
    from conftest import SF0001
    from gjenbruksstasjoner_kotid_estimering_spark.io import load_table
    from gjenbruksstasjoner_kotid_estimering_spark.streaming import txn_stream

    out = {
        r.tbl: (r.n_rows, r.total_cents)
        for r in txn_stream.stream_txn_multi_table_true(
            spark, SF0001
        ).collect()
    }
    per_user = (
        load_table(spark, SF0001, "events")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    )
    n = per_user.count()
    total = per_user.agg(F.sum("c")).collect()[0][0]
    assert out["balances"] == (n, total)
    assert out["audit"] == (n, total)
