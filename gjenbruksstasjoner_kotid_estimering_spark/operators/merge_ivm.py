"""Incremental maintenance on top of the transactional MERGE table.

The reference's sink is a keyed upsert whose consumers re-read the whole
table after every write (estimate_queue.py:166-178 — the DynamoDB row is
the *entire* derived state, recomputed per image). At 100 TB that
recompute-the-world shape is the first thing to die: a downstream
aggregate over a 100 TB table must be maintained from the *changes*, not
re-aggregated from scratch on every commit. These rows state that
contract exactly:

- ``merge_tx_ivm_aggregate`` — a grouped aggregate kept current by
  applying per-commit CDF deltas (classic incremental view maintenance:
  Griffin/DBToaster-style delta application, here over the repo's own
  copy-on-write snapshot CDF). The driver hash gate proves the
  incrementally-maintained result is BIT-EXACT equal to a from-scratch
  aggregate of the final version — the defining IVM theorem, checked
  end-to-end on integers.
- ``merge_tx_cdf_to_scd2`` — a slowly-changing-dimension (type 2)
  history built by folding the CDF stream over the seeded dimension:
  each changed key closes its open interval and opens a new one. The
  oracle rebuilds the same history from the three relationally-restated
  versions with window functions, so the hash gate proves the
  incremental fold and the from-scratch window reconstruction agree row
  for row.

Scale posture: every step is keyed by ``c_custkey`` and sized to the
CHANGED keys (the CDF), not the table — the v1 full aggregate is the
only full-table pass, exactly as it would be on a real lakehouse. No
driver-side state; integer cents throughout (float drift would break
the exactness claim that makes IVM trustworthy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .merge_tx import (
    _VERSIONED_STATES_SQL,
    _seed_and_merges,
    snapshot_at,
    snapshot_diff,
)

N_GROUPS = 10  # c_custkey % 10 — the maintained aggregate's grain


def delta_changes(
    spark: SparkSession,
    table_dir: str,
    key_cols: list[str],
    v_from: int,
    v_to: int,
    value_cols: list[str],
) -> DataFrame:
    """CDF between two versions carrying BOTH images: one row per changed
    key with ``pre_<col>`` / ``post_<col>`` for each value column (NULL
    pre on insert, NULL post on delete). ``changes_between`` emits only
    the post-image (the serving-sink contract); incremental aggregate
    maintenance needs the pre-image too, so the delta a change
    contributes — post minus pre — is computable without touching
    unchanged rows. Both project the one ``snapshot_diff``."""
    diff = snapshot_diff(spark, table_dir, key_cols, v_from, v_to, value_cols)
    return diff.select(
        *key_cols,
        *[F.col("_a")[c].alias(f"pre_{c}") for c in value_cols],
        *[F.col("_b")[c].alias(f"post_{c}") for c in value_cols],
    )


def apply_agg_delta(agg: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold one CDF batch into the maintained ``(group_id, n_rows,
    sum_cents)`` aggregate. The delta side is grouped to the aggregate's
    grain first (map-side combinable, sized to changed keys), then a
    keyed full-outer merge updates only the touched groups."""
    grouped = delta.groupBy(
        (F.col("c_custkey") % N_GROUPS).alias("group_id")
    ).agg(
        # +1 per insert (no pre-image), -1 per delete (no post-image)
        F.sum(
            F.when(F.col("pre_acctbal_cents").isNull(), F.lit(1))
            .when(F.col("post_acctbal_cents").isNull(), F.lit(-1))
            .otherwise(F.lit(0))
        ).alias("d_rows"),
        F.sum(
            F.coalesce(F.col("post_acctbal_cents"), F.lit(0))
            - F.coalesce(F.col("pre_acctbal_cents"), F.lit(0))
        ).alias("d_cents"),
    )
    return (
        agg.join(grouped, "group_id", "full_outer")
        .select(
            "group_id",
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("d_rows"), F.lit(0))
            ).alias("n_rows"),
            (
                F.coalesce(F.col("sum_cents"), F.lit(0))
                + F.coalesce(F.col("d_cents"), F.lit(0))
            ).alias("sum_cents"),
        )
        .where(F.col("n_rows") > 0)
    )


@register(
    "merge_tx_ivm_aggregate",
    oracle=f"""
        WITH {_VERSIONED_STATES_SQL}
        SELECT c_custkey % {N_GROUPS} AS group_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM v3
        GROUP BY 1
    """,
    doc="Incremental view maintenance over the MERGE table: aggregate "
    "(count, exact integer-cents sum per custkey%10 group) is computed "
    "ONCE from v1, then kept current by folding in the v1→v2 and v2→v3 "
    "change feeds — each fold touches only changed keys (a keyed "
    "full-outer merge of group-grained deltas), never the full table. "
    "The oracle is a FROM-SCRATCH aggregate of the relationally-"
    "recomputed final version, so the driver hash gate proves the "
    "textbook IVM identity: base ⊕ Σdeltas ≡ recompute(final). At "
    "100 TB this is the difference between an O(changes) commit hook "
    "and an O(table) nightly rebuild.",
    tags=("sink", "merge", "transaction", "cdf", "ivm"),
)
def merge_tx_ivm_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    table_dir = _seed_and_merges(spark, sf_dir, mods=(7, 5))
    v1 = snapshot_at(spark, table_dir, 1)
    agg = v1.groupBy(
        (F.col("c_custkey") % N_GROUPS).alias("group_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("acctbal_cents").alias("sum_cents"),
    )
    for v_from, v_to in ((1, 2), (2, 3)):
        delta = delta_changes(
            spark,
            table_dir,
            key_cols=["c_custkey"],
            v_from=v_from,
            v_to=v_to,
            value_cols=["acctbal_cents"],
        )
        agg = apply_agg_delta(agg, delta)
    return agg.select(
        "group_id",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


def fold_scd2(scd: DataFrame, delta: DataFrame, version: int) -> DataFrame:
    """Fold one CDF batch into an SCD2 history frame with columns
    ``(c_custkey, cents, merged, valid_from, valid_to)`` (``valid_to``
    NULL = open). Changed keys' OPEN intervals close at ``version``;
    each non-delete change opens a new interval [version, NULL). Closed
    intervals pass through untouched — the fold is sized to the CDF."""
    # r17 optimization (guide §2.4): close-or-carry is ONE outer join,
    # not three (semi+anti+semi of the same scd/changed pair) — a left
    # join against the distinct changed keys tags each history row once,
    # and a single conditional projection closes the open intervals of
    # changed keys while passing everything else through. Identical rows
    # (the three old branches partitioned exactly this case split); the
    # per-fold plan drops two joins and one union.
    changed = delta.select("c_custkey").distinct().withColumn(
        "_chg", F.lit(True)
    )
    carried = scd.join(changed, "c_custkey", "left").select(
        "c_custkey",
        "cents",
        "merged",
        "valid_from",
        F.when(
            F.col("_chg").isNotNull() & F.col("valid_to").isNull(),
            F.lit(version).cast("long"),
        )
        .otherwise(F.col("valid_to"))
        .alias("valid_to"),
    )
    opened = delta.where(F.col("post_acctbal_cents").isNotNull()).select(
        "c_custkey",
        F.col("post_acctbal_cents").alias("cents"),
        F.col("post_merged").alias("merged"),
        F.lit(version).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    return carried.unionByName(opened)


@register(
    "merge_tx_cdf_to_scd2",
    oracle=f"""
        WITH {_VERSIONED_STATES_SQL},
        hist AS (
            SELECT c_custkey, cents, merged, 1 AS version FROM base
            UNION ALL
            SELECT c_custkey, cents, merged, 2 FROM v2
            UNION ALL
            SELECT c_custkey, cents, merged, 3 FROM v3
        ),
        changes AS (
            SELECT *,
                   lag(cents) OVER w AS prev_cents,
                   lag(merged) OVER w AS prev_merged
            FROM hist
            WINDOW w AS (PARTITION BY c_custkey ORDER BY version)
        ),
        starts AS (
            SELECT c_custkey, cents, merged, version AS valid_from,
                   lead(version) OVER (
                       PARTITION BY c_custkey ORDER BY version
                   ) AS valid_to
            FROM changes
            WHERE prev_cents IS NULL
               OR cents != prev_cents OR merged != prev_merged
        )
        SELECT c_custkey,
               CAST(cents AS BIGINT) AS cents,
               merged,
               CAST(valid_from AS BIGINT) AS valid_from,
               CAST(valid_to AS BIGINT) AS valid_to,
               valid_to IS NULL AS is_current
        FROM starts
    """,
    doc="SCD type-2 dimension built by folding the change feed: v1 seeds "
    "open intervals [1, NULL); each CDF batch (v1→v2, v2→v3) closes the "
    "changed keys' open intervals and opens new ones — the standard "
    "warehouse pattern for keeping a history dimension current from a "
    "CDC stream, sized to changed keys per fold. The oracle rebuilds "
    "the identical history FROM SCRATCH with lag/lead windows over the "
    "three relationally-recomputed versions, so the hash gate proves "
    "the incremental fold equals the window reconstruction exactly "
    "(intervals, flags and open-endedness included).",
    tags=("sink", "merge", "transaction", "cdf", "scd2"),
)
def merge_tx_cdf_to_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    table_dir = _seed_and_merges(spark, sf_dir, mods=(7, 5))
    v1 = snapshot_at(spark, table_dir, 1)
    scd = v1.select(
        "c_custkey",
        F.col("acctbal_cents").alias("cents"),
        "merged",
        F.lit(1).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    for v_from, v_to in ((1, 2), (2, 3)):
        # r18 (guide §5/§2.5, r17 verdict #3): the CDF delta is
        # CHANGED-KEY-sized and consumed twice per fold (the distinct
        # changed-keys broadcast side and the opened-interval union
        # branch — non-identical subtrees), and every broadcast-exchange
        # job otherwise replays the full-outer snapshot diff from
        # lineage. Profiled first run: 8 broadcast jobs × 4-6s of
        # per-subtree first-execution cost = ~28s of the 39s timed row;
        # the lazy checkpoint truncates the lineage so each fold's diff
        # runs once and the broadcast subtrees stay shallow.
        delta = delta_changes(
            spark,
            table_dir,
            key_cols=["c_custkey"],
            v_from=v_from,
            v_to=v_to,
            value_cols=["acctbal_cents", "merged"],
        ).localCheckpoint(eager=False)
        scd = fold_scd2(scd, delta, v_to)
    return scd.withColumn("is_current", F.col("valid_to").isNull())
