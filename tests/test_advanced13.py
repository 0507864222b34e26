"""Round-9 waves F–H: IVM/SCD2 over the MERGE table, exact stats,
weighted SSSP, and entity resolution."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from gjenbruksstasjoner_kotid_estimering_spark.io import load_table
from gjenbruksstasjoner_kotid_estimering_spark.operators import (
    graph2,
    merge_ivm,
)
from gjenbruksstasjoner_kotid_estimering_spark.operators.graph import (
    bfs_distances,
)
from gjenbruksstasjoner_kotid_estimering_spark.operators.merge_tx import (
    _seed_and_merges,
    snapshot_at,
)
from gjenbruksstasjoner_kotid_estimering_spark.plans import advanced13 as a13

from conftest import SF0001


# --- IVM -------------------------------------------------------------------


def test_ivm_equals_from_scratch_aggregate(spark):
    """The IVM theorem in-process: base ⊕ Σdeltas == recompute(v3)."""
    got = {
        r.group_id: (r.n_rows, r.sum_cents)
        for r in merge_ivm.merge_tx_ivm_aggregate(spark, SF0001).collect()
    }
    table_dir = _seed_and_merges(spark, SF0001, mods=(7, 5))
    want = {
        r.group_id: (r.n_rows, r.sum_cents)
        for r in snapshot_at(spark, table_dir, 3)
        .groupBy((F.col("c_custkey") % merge_ivm.N_GROUPS).alias("group_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("acctbal_cents").alias("sum_cents"),
        )
        .collect()
    }
    assert got == want


def test_delta_changes_carries_both_images(spark):
    table_dir = _seed_and_merges(spark, SF0001, mods=(7, 5))
    delta = merge_ivm.delta_changes(
        spark,
        table_dir,
        key_cols=["c_custkey"],
        v_from=1,
        v_to=2,
        value_cols=["acctbal_cents"],
    ).collect()
    assert delta, "the %7 merge must change at least one key"
    v1 = {
        r.c_custkey: r.acctbal_cents
        for r in snapshot_at(spark, table_dir, 1).collect()
    }
    v2 = {
        r.c_custkey: r.acctbal_cents
        for r in snapshot_at(spark, table_dir, 2).collect()
    }
    for r in delta:
        assert r.pre_acctbal_cents == v1[r.c_custkey]
        assert r.post_acctbal_cents == v2[r.c_custkey]
        assert r.pre_acctbal_cents != r.post_acctbal_cents


# --- SCD2 ------------------------------------------------------------------


def test_scd2_intervals_partition_and_current_matches_v3(spark):
    rows = merge_ivm.merge_tx_cdf_to_scd2(spark, SF0001).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.c_custkey, []).append(r)
    table_dir = _seed_and_merges(spark, SF0001, mods=(7, 5))
    v3 = {
        r.c_custkey: (r.acctbal_cents, r.merged)
        for r in snapshot_at(spark, table_dir, 3).collect()
    }
    assert set(by_key) == set(v3)
    for key, ivs in by_key.items():
        ivs.sort(key=lambda r: r.valid_from)
        # intervals tile [1, open) with no gaps or overlaps
        assert ivs[0].valid_from == 1
        for prev, nxt in itertools.pairwise(ivs):
            assert prev.valid_to == nxt.valid_from
        open_ivs = [r for r in ivs if r.valid_to is None]
        assert len(open_ivs) == 1 and open_ivs[0] is ivs[-1]
        assert ivs[-1].is_current
        assert (ivs[-1].cents, ivs[-1].merged) == v3[key]


# --- exact stats -----------------------------------------------------------


def test_chi_square_marginals_are_consistent(spark):
    rows = a13.stat_chi_square_independence(spark, SF0001).collect()
    n_total = rows[0].n_total
    assert all(r.n_total == n_total for r in rows)
    assert sum(r.observed for r in rows) == n_total
    for r in rows:
        assert r.expected_num == r.row_total * r.col_total
        assert (
            sum(x.observed for x in rows if x.status == r.status)
            == r.row_total
        )


def test_ewma_dyadic_weights_saturate_at_255(spark):
    rows = a13.timeseries_ewma_dyadic(spark, SF0001).collect()
    assert rows
    per_user: dict[int, int] = {}
    for r in rows:
        per_user[r.user_id] = per_user.get(r.user_id, 0) + 1
        # weights are a prefix of 128, 64, ... so the partial sums are
        # 128, 192, 224, ... 255 — never anything else
        assert r.weight_sum in {128, 192, 224, 240, 248, 252, 254, 255}
    deep = [r for r in rows if r.weight_sum == 255]
    assert deep, "users with ≥8 events must saturate the weight window"


def test_running_median_matches_python_on_one_user(spark):
    rows = a13.window_running_median_exact(spark, SF0001).collect()
    ev = (
        load_table(spark, SF0001, "events")
        .where((F.col("user_id") == 3) & F.col("value").isNotNull())
        .select(
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            "ts",
        )
        .collect()
    )
    ev.sort(key=lambda r: (r.ts, r.event_id))
    got = {r.event_id: r.median_x2 for r in rows if r.user_id == 3}
    for i, r in enumerate(ev):
        frame = sorted(x.cents for x in ev[max(0, i - 9) : i + 1])
        n = len(frame)
        if n % 2:
            want = 2 * frame[n // 2]
        else:
            want = frame[n // 2 - 1] + frame[n // 2]
        assert got[r.event_id] == want


# --- DDL defaults / URL / TTR ---------------------------------------------


def test_ddl_defaults_fire_only_where_omitted(spark):
    rows = a13.sql_ddl_default_columns(spark, SF0001).collect()
    orders = (
        load_table(spark, SF0001, "orders")
        .where(F.col("o_orderkey") < 500)
        .collect()
    )
    want: dict[tuple, list[int]] = {}
    for o in orders:
        status = o.o_orderstatus if o.o_orderkey % 2 == 1 else "new"
        prio = o.o_orderkey % 5 if o.o_orderkey % 3 == 0 else 7
        want.setdefault((status, prio), []).append(o.o_orderkey)
    assert {
        (r.status, r.prio): (r.n, r.sum_id) for r in rows
    } == {k: (len(v), sum(v)) for k, v in want.items()}


def test_url_parse_covers_every_segment(spark):
    rows = a13.string_url_parse(spark, SF0001).collect()
    cust = load_table(spark, SF0001, "customer")
    segs = {
        r.c_mktsegment.lower().replace(" ", "-") + ".example.com": r.n
        for r in cust.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.host: r.n for r in rows} == segs
    assert sum(r.n for r in rows) == cust.count()


def test_ttr_bounds_and_repeated_text_has_low_ttr(spark):
    rows = a13.text_ttr_lexical_diversity(spark, SF0001).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_types <= r.n_tokens
        assert 0 <= r.ttr_milli <= 1000
        assert r.ttr_band == r.ttr_milli // 100


# --- SSSP / ER -------------------------------------------------------------


def test_sssp_reaches_bfs_nodes_with_weighted_dist_at_least_hops(spark):
    li = load_table(spark, SF0001, "lineitem")
    edges = (
        li.select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed = spark.range(1).select(
        F.lit(graph2.SSSP_SEED).alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    hops = {
        r.node: r.dist
        for r in bfs_distances(edges, seed, graph2.SSSP_HOPS).collect()
    }
    weighted = {
        r.node: r.dist
        for r in graph2.graph_sssp_weighted(spark, SF0001).collect()
    }
    # same reachable set within the hop bound; every edge weight ≥ 1 so
    # the weighted distance dominates the hop count
    assert set(weighted) == set(hops)
    assert weighted[graph2.SSSP_SEED] == 0
    for node, d in weighted.items():
        assert d >= hops[node]


def test_er_clusters_match_python_union_find(spark):
    rows = graph2.er_resolve_parts(spark, SF0001).collect()
    part = load_table(spark, SF0001, "part").collect()
    names = sorted({p.p_name for p in part})

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[-1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    parent = {n: n for n in names}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in itertools.combinations(names, 2):
        if lev(x, y) <= graph2.ER_MAX_EDIT:
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
    # canonical rep = min name in component (matches min-label fixpoint)
    rep_of = {n: min(m for m in names if find(m) == find(n)) for n in names}
    want: dict[str, list] = {}
    for p in part:
        want.setdefault(rep_of[p.p_name], []).append(p)
    assert {r.cluster_rep: (r.n_names, r.n_parts, r.min_partkey) for r in rows} == {
        rep: (
            len({p.p_name for p in ps}),
            len(ps),
            min(p.p_partkey for p in ps),
        )
        for rep, ps in want.items()
    }
