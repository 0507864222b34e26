"""Atomic MULTI-TABLE transactions over copy-on-write parquet tables.

merge_tx.py gives one table ACID commits (immutable data files + an
atomic per-version manifest). This module lifts the same design one
level: a transaction ROOT holds several member tables and ONE shared
commit log; each commit atomically publishes the file manifests of ALL
member tables together, so cross-table invariants (a debit in
``balances`` and its row in ``audit``) become visible in one step or
not at all — the guarantee single-table lakehouse formats (Delta,
Iceberg without a transactional catalog) cannot give.

Mechanics reuse merge_tx's two proven primitives:

- data files are staged under ``<root>/<table>/data/<uuid>/`` and are
  INVISIBLE until referenced by a committed manifest (a crashed writer
  leaves only ignorable orphans — the age-gated GC reaps them);
- the commit is one JSON (``_txn/t<version>.json``) holding every
  member table's complete file list and schema (``{"files": [...],
  "schema": <StructType JSON>}``, a member entry), published with the
  write-temp-then-os.link pattern: creation of the final name is the
  atomic, exclusive publication point, so two writers racing the same
  version get exactly one winner and a ``VersionConflict`` loser.

Readers resolve a table by loading the LATEST committed transaction
and reading that table's files through its recorded schema, as
merge_tx reads a manifest (no footer is opened, no job starts until
the frame is used) — a point-in-time snapshot of the
whole table GROUP, so cross-table reads are mutually consistent (the
classic read-skew anomaly between separately-versioned tables cannot
happen). Grounding: the reference writes its estimate AND its
visibility/meta fields as one DynamoDB item update
(estimate_queue.py:166-178) — one logical fact, atomically visible;
this is that contract when the fact spans tables.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register
from ..scratch import detach_result, new_scratch_dir
from .merge_tx import _latest_version, _publish, _read_files, _write_data_file

_TXN = "_txn"


def _txn_path(root: str, version: int) -> str:
    return os.path.join(root, _TXN, f"t{version:020d}.json")


def txn_current_version(root: str) -> int:
    return _latest_version(os.path.join(root, _TXN), "t")


def txn_read_commit(root: str, version: int) -> dict[str, dict]:
    """Every member entry of commit ``version``, by table name."""
    if version == 0:
        return {}
    with open(_txn_path(root, version)) as f:
        return json.load(f)["tables"]


def txn_read_meta(root: str, version: int) -> dict:
    """Application metadata carried by a commit (e.g. the streaming
    batch ids already applied — the exactly-once dedup ledger)."""
    if version == 0:
        return {}
    with open(_txn_path(root, version)) as f:
        return json.load(f).get("meta", {})


def txn_stage(df: DataFrame, root: str, table: str) -> dict:
    """Write ``df`` as immutable parquet files under the table's data
    area WITHOUT publishing them. Returns the member entry (the staged
    files and ``df``'s schema) for a later :func:`txn_commit`. Until that
    commit, no reader can see these files — which is the whole
    crash-atomicity story: a writer dying after staging leaves the table
    group bit-identical."""
    files = _write_data_file(df, os.path.join(root, table))[0]
    return {"files": files, "schema": df.schema.jsonValue()}


def txn_commit(
    root: str,
    version: int,
    tables: dict[str, dict],
    meta: dict | None = None,
) -> None:
    """Atomically publish ``tables`` (EVERY member table's entry: its
    complete file list and schema) as transaction ``version``. Raises
    VersionConflict if a concurrent writer already committed that
    version — optimistic concurrency, published as merge_tx publishes a
    manifest."""
    body = {"version": version, "tables": tables}
    if meta is not None:
        body["meta"] = meta
    _publish(_txn_path(root, version), body)


def txn_snapshot(
    spark: SparkSession, root: str, table: str, version: int | None = None
) -> DataFrame | None:
    """Read ``table`` as of a committed transaction (latest by default).
    All member tables resolved through the SAME version are mutually
    consistent — the point of the shared log."""
    v = txn_current_version(root) if version is None else version
    entry = txn_read_commit(root, v).get(table)
    if entry is None or not entry["files"]:
        return None
    return _read_files(spark, entry["files"], entry["schema"])


TRANSFER_CENTS = 100
DEBIT_MOD = 10


@register(
    "txn_multi_table_atomic",
    oracle=f"""
        WITH base AS (
          SELECT c_custkey,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          FROM customer
        )
        SELECT 'balances' AS tbl,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents - CASE WHEN c_custkey % {DEBIT_MOD} = 0
                                     THEN {TRANSFER_CENTS} ELSE 0 END)
                    AS BIGINT) AS total_cents
        FROM base
        UNION ALL
        SELECT 'audit',
               CAST(count(*) AS BIGINT),
               CAST(sum(-{TRANSFER_CENTS}) AS BIGINT)
        FROM base WHERE c_custkey % {DEBIT_MOD} = 0
    """,
    doc="Atomic MULTI-TABLE transaction: txn1 seeds `balances` (customer "
    "cents) with an empty `audit`; txn2 stages BOTH a debited balances "
    "rewrite (custkey%10 rows lose 100 cents) AND the matching audit "
    "rows, then publishes them in ONE shared-log commit; a third "
    "transfer is staged but NEVER committed (the simulated crash). "
    "The read must show exactly txn2 for both tables — debits and "
    "audit rows together, the uncommitted staging invisible — which "
    "the oracle recomputes relationally; conservation (balance delta "
    "= audit sum) is hash-implied. Cross-table snapshot isolation is "
    "what a single-table manifest design cannot give and what the "
    "shared log buys at the cost of one commit point per table "
    "GROUP; tests/test_txn.py proves crash-atomicity, read-skew "
    "impossibility, and single-winner version conflicts.",
    tags=("sink", "transaction", "multi-table", "acid"),
)
def txn_multi_table_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    root = new_scratch_dir(f"txn_{sf_tag}")
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    # txn 1: seed balances; audit exists but is empty (absent file list)
    txn_commit(root, 1, {"balances": txn_stage(base, root, "balances")})
    # txn 2: one atomic transfer — debit + audit together
    debited = base.withColumn(
        "cents",
        F.when(
            F.col("c_custkey") % DEBIT_MOD == 0,
            F.col("cents") - TRANSFER_CENTS,
        ).otherwise(F.col("cents")),
    )
    audit = base.where(F.col("c_custkey") % DEBIT_MOD == 0).select(
        "c_custkey", F.lit(-TRANSFER_CENTS).cast("long").alias("delta_cents")
    )
    txn_commit(
        root,
        2,
        {
            "balances": txn_stage(debited, root, "balances"),
            "audit": txn_stage(audit, root, "audit"),
        },
    )
    # a third transfer staged but never committed: the simulated crash —
    # these files must be invisible to the read below
    txn_stage(
        debited.withColumn("cents", F.col("cents") - TRANSFER_CENTS),
        root,
        "balances",
    )
    balances = txn_snapshot(spark, root, "balances")
    audit_read = txn_snapshot(spark, root, "audit")
    out = balances.agg(
        F.lit("balances").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("total_cents"),
    ).unionAll(
        audit_read.agg(
            F.lit("audit").alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("delta_cents").alias("total_cents"),
        )
    )
    return detach_result(out, root)
