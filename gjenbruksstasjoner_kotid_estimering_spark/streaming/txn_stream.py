"""Streaming writes into the multi-table transaction log — exactly-once
across TWO tables per micro-batch.

foreachBatch gives at-least-once batch delivery (a batch can replay
after a failure); the lakehouse side must make the replay a no-op. The
single-table answer is an idempotent MERGE; the multi-table answer here
is stronger and simpler: every micro-batch becomes ONE transaction in
operators/txn.py's shared log, its commit carries the batch id as
metadata, and an incoming batch whose id is already in the applied set
is skipped before any work. Both the running `balances` state and the
append-only `audit` rows flip together at the commit point — a crash
between staging and commit replays cleanly (staged orphans are
invisible), and a replay after commit is deduplicated by the ledger.
Grounding: the reference's Luigi tasks are exactly this contract —
re-running a completed task must not double-apply
(tasks.py:32-41's memoization), generalized to a two-table fact.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register
from ..scratch import new_scratch_dir
from ..session import scoped_shuffle_partitions
from ..operators.txn import (
    txn_commit,
    txn_current_version,
    txn_read_commit,
    txn_read_meta,
    txn_snapshot,
    txn_stage,
)

N_SHARDS = 4


def txn_batch_writer(root: str):
    """foreachBatch function: apply one micro-batch of (user_id, cents)
    deltas to `balances` (full recomputed state) and `audit` (append)
    in one atomic, batch-id-deduplicated transaction."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        v = txn_current_version(root)
        applied = set(txn_read_meta(root, v).get("batch_ids", []))
        if batch_id in applied:
            return  # replayed batch: the ledger makes it a no-op
        delta = batch_df.groupBy("user_id").agg(
            F.sum("cents").alias("cents")
        )
        cur = txn_snapshot(spark, root, "balances", version=v)
        new_bal = (
            delta
            if cur is None
            else cur.unionByName(delta)
            .groupBy("user_id")
            .agg(F.sum("cents").alias("cents"))
        )
        audit = txn_stage(
            delta.select(
                "user_id",
                "cents",
                F.lit(batch_id).cast("long").alias("batch_id"),
            ),
            root,
            "audit",
        )
        prev = txn_read_commit(root, v).get("audit")
        if prev is not None:
            audit["files"] = prev["files"] + audit["files"]
        txn_commit(
            root,
            v + 1,
            {
                "balances": txn_stage(new_bal, root, "balances"),
                "audit": audit,
            },
            meta={"batch_ids": sorted(applied | {batch_id})},
        )

    return apply


def run_stream_into_txn(
    spark: SparkSession, feed_dir: str, root: str, ckpt: str
) -> None:
    stream = (
        spark.readStream.schema("user_id long, cents long, shard int")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    # KB-scale per-batch state: 32 shuffle partitions is scheduling tax
    # across 4 micro-batches x (delta agg + balance merge) — scope down
    # for the drain, restore after (the _drain_to_memory convention)
    with scoped_shuffle_partitions(spark, 8):
        q = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(txn_batch_writer(root))
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            try:
                q.stop()
            except Exception:
                pass


@register(
    "stream_txn_multi_table_true",
    oracle="""
        WITH per_user AS (
          SELECT user_id,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS cents
          FROM events GROUP BY user_id
        )
        SELECT 'balances' AS tbl,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM per_user
        UNION ALL
        SELECT 'audit', CAST(count(*) AS BIGINT),
               CAST(sum(cents) AS BIGINT)
        FROM per_user
    """,
    doc="TRUE streaming writes into the MULTI-TABLE transaction log, "
    "oracle-checked: events flow as four shard files (shard = "
    "user_id%4, one micro-batch each via maxFilesPerTrigger=1); every "
    "batch commits a recomputed `balances` state AND its `audit` "
    "delta rows as ONE transaction whose metadata carries the applied "
    "batch ids — the exactly-once ledger that turns foreachBatch's "
    "at-least-once replays into no-ops (proven directly in "
    "tests/test_txn.py by re-invoking the writer with a used batch "
    "id). Because shard is a function of user_id, each user's whole "
    "history lands in one batch, so the final audit is exactly one "
    "row per user and the oracle can state both tables relationally: "
    "balances == audit == per-user event-cents totals. The streaming "
    "generalization of the reference's memoized daily tasks "
    "(tasks.py:32-41).",
    tags=("streaming", "sink", "transaction", "exactly-once"),
)
def stream_txn_multi_table_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    scratch = new_scratch_dir("stream_txn")
    feed, root, ckpt = (
        f"{scratch}/feed",
        f"{scratch}/root",
        f"{scratch}/ckpt",
    )
    os.makedirs(root)
    load_table(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("user_id") % N_SHARDS).cast("int").alias("shard"),
    ).repartition(N_SHARDS, "shard").write.partitionBy("shard").parquet(feed)
    try:
        run_stream_into_txn(spark, feed, root, ckpt)
        balances = txn_snapshot(spark, root, "balances")
        audit = txn_snapshot(spark, root, "audit")
        out = balances.agg(
            F.lit("balances").alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("total_cents"),
        ).unionAll(
            audit.agg(
                F.lit("audit").alias("tbl"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("total_cents"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
