"""Physical-plan assertions — the 100 TB posture, checked in CI.

A correct result with a wrong plan (full-column scan, shuffled dimension
join, global sort for a top-k) would still pass the oracle but die at scale;
these tests pin the plan shapes SURVEY.md §4 calls for.
"""

from __future__ import annotations

import re

import pytest
from conftest import jobs_started

from gjenbruksstasjoner_kotid_estimering_spark import registry

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return _plan_of(spark, registry.all_specs()[name].builder(spark, SF))


def _plan_of(spark, df) -> str:
    jqe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


def test_scan_project_prunes_columns(spark):
    plan = _plan(spark, "scan_project")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # 5 referenced columns only — not the full 11-column lineitem schema
    assert read.count(":") == 5 + 1  # 5 fields + the line's own colon
    assert "l_returnflag" not in read


def test_filters_are_pushed_down(spark):
    for name in ("filter_predicates", "range_filter"):
        plan = _plan(spark, name)
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
        assert "GreaterThan" in pushed or "EqualTo" in pushed, (name, pushed)


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "join_inner")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_interp_join_is_broadcast_nested_loop(spark):
    plan = _plan(spark, "asof_interp_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_window_group_limit(spark):
    plan = _plan(spark, "topk_per_group")
    assert "WindowGroupLimit" in plan


def test_global_topk_avoids_full_sort(spark):
    for name in ("scan_limit1", "similarity_topk"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_aggregates_are_two_phase(spark):
    plan = _plan(spark, "agg_basic")
    # partial (map-side) + final HashAggregate pair
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize("name", ["scan_project", "agg_basic", "join_inner"])
def test_whole_stage_codegen_active(spark, name):
    # AQE wraps the plan (isFinalPlan=false) and hides codegen spans until
    # execution; disable it for the static explain only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(spark, name)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # formatted mode marks codegen'd operators with a '*' prefix
    starred = [
        l for l in plan.splitlines() if l.lstrip("+- ").startswith("* ")
    ]
    assert starred, plan[:400]


# --- round-2 additions: TPC-H wave + training-data lane plan shapes ---


def test_tpch_q19_disjunction_still_pushes_down(spark):
    # the OR'ed brand/size/qty predicate must not defeat single-side
    # pushdown: quantity range reaches the lineitem scan, and the join
    # stays broadcast
    plan = _plan(spark, "tpch_q19")
    assert "BroadcastHashJoin" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l for l in pushed), pushed


def test_tpch_q18_shape_broadcasts_survivors(spark):
    # the HAVING survivor set must be the broadcast side into orders
    plan = _plan(spark, "tpch_q18")
    assert "BroadcastHashJoin" in plan


def test_tpch_q4_semi_join(spark):
    # EXISTS decorrelates to a semi join, not an inner join + distinct
    plan = _plan(spark, "tpch_q4")
    assert "LeftSemi" in plan


def test_tpch_q16_anti_join(spark):
    plan = _plan(spark, "tpch_q16")
    assert "LeftAnti" in plan


def test_tfidf_exact_exchange_budget(spark):
    # doc_id hash partitioning is reused by the (doc_id, term) aggregate
    # AND the ranking window (neither adds an exchange — was 5 before).
    # Static plan shows ≤3: two identical doc_id fan_outs (tf and df
    # branches — AQE's ReusedExchange collapses them at runtime) + the
    # term-side aggregate.
    plan = _plan(spark, "text_tfidf_exact")
    import re

    exchanges = re.findall(r"^\(\d+\) Exchange\n.*", plan, re.M)
    assert len(exchanges) <= 3, exchanges
    # the window/final-aggregate stage reuses the doc_id partitioning:
    # every exchange is either a doc_id fan_out or the term aggregate
    assert all(("doc_id" in e) or ("term" in e) for e in exchanges), exchanges


def test_repetition_filter_single_exchange(spark):
    plan = _plan(spark, "text_repetition_filter")
    import re

    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_null_safe_join_stays_hash_join(spark):
    # <=> must plan as a (broadcast) hash join, not nested-loop
    plan = _plan(spark, "join_null_safe")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_is_arrow_grouped(spark):
    plan = _plan(spark, "doc_pack_sequences")
    assert "FlatMapGroupsInPandas" in plan


def test_results_invariant_to_join_strategy(spark):
    # With auto-broadcast disabled, un-hinted joins fall back to
    # SortMergeJoin; results must be identical — correctness can't depend
    # on the physical strategy AQE happens to pick at some scale.
    spec = registry.all_specs()["tpch_q5"]
    default_rows = sorted(map(tuple, spec.builder(spark, SF).collect()))
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = spec.builder(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "SortMergeJoin" in plan  # the fallback actually engaged
        forced_rows = sorted(map(tuple, df.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert forced_rows == default_rows


def test_decontaminate_broadcasts_benchmark_grams(spark):
    plan = _plan(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # corpus side must not pay a (doc_id, gram) dedup exchange: only the
    # fan_out round-robins, the benchmark distinct, and the final count agg
    import re

    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 4, plan


PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _checkpoint_reads(plan: str) -> list[str]:
    return re.findall(r"MapPartitionsRDD\[\d+\] at localCheckpoint", plan)


def test_ngram_jaccard_one_arrow_pass_then_equi_join(spark):
    from gjenbruksstasjoner_kotid_estimering_spark.io import load_table
    from gjenbruksstasjoner_kotid_estimering_spark.operators.dedup import doc_keys

    # the one Python boundary: a MapInArrow straight on the scan, with no
    # round-robin (or any other) exchange in front of it
    keys_plan = _plan_of(spark, doc_keys(load_table(spark, SF, "documents")))
    assert keys_plan.count("MapInArrow (") == 1, keys_plan
    assert "Exchange" not in keys_plan, keys_plan
    # each operator reads its band pass once materialized: no Python node
    # is left to re-run it per join side, and the shared band_pairs
    # self-join is an equi-join
    for name in ("dedup_ngram_jaccard", "dedup_embedding_cosine"):
        plan = _plan(spark, name)
        assert not [n for n in PY_NODES if n in plan], (name, plan)
        reads = _checkpoint_reads(plan)
        assert len(reads) >= 2 and len(set(reads)) == 1, (name, plan)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def _subtree(plan: str, node: str) -> list[str]:
    """The tree lines of a formatted plan below the first ``node`` line."""
    lines = plan.split("\n\n")[0].splitlines()
    at = next(i for i, line in enumerate(lines) if f"{node} (" in line)
    depth = lines[at].index(node)
    below = []
    for line in lines[at + 1 :]:
        if len(line) - len(line.lstrip(" :|+-")) <= depth:
            break
        below.append(line)
    return below


def test_knn_join_broadcasts_query_bands(spark):
    plan = _plan(spark, "similarity_knn_join")
    # the query bands are collected and shipped with the Arrow pass, so the
    # corpus side meets them without any join
    for join in ("BroadcastHashJoin", "SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan, (join, plan)
    assert "WindowGroupLimit" in plan  # rank<=k prunes per-partition


def test_knn_join_runs_the_pivot_pass_once(spark):
    plan = _plan(spark, "similarity_knn_join")
    # candidates and scores come from one Python pass straight on the scan:
    # no materialized band frame and no exchange before it
    assert plan.count("MapInArrow (") == 1, plan
    assert not [line for line in _subtree(plan, "MapInArrow") if "Exchange" in line], plan
    assert not _checkpoint_reads(plan), plan


def test_knn_join_job_count_guard(spark):
    """A kNN join starts at most 4 Spark jobs: the one collect of the
    pivots and queries, then the scoring pass and the ranking."""
    from gjenbruksstasjoner_kotid_estimering_spark.operators import similarity

    knn = similarity.similarity_knn_join
    assert jobs_started(spark, "knn_join_job_guard", lambda: knn(spark, SF).collect()) <= 4


def test_chunker_has_no_shuffle(spark):
    plan = _plan(spark, "doc_chunk_overlap")
    # one REPARTITION fan_out at most; no hash exchanges anywhere
    assert "hashpartitioning" not in plan


def test_winnow_pairs_joins_on_fingerprint_key(spark):
    plan = _plan(spark, "dedup_winnow_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # bucket-local equi join


def test_stratified_sample_pushes_nothing_wide(spark):
    plan = _plan(spark, "sample_stratified_exact")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read  # 3-column projection must prune the payload


def test_gopher_flags_zero_shuffle(spark):
    plan = _plan(spark, "text_gopher_quality_flags")
    assert "Exchange" not in plan  # pure per-row columnar gate


def test_bm25_single_row_stats_broadcast(spark):
    plan = _plan(spark, "text_bm25_rank")
    # the one-row corpus-stats side joins via broadcast, result via TakeOrdered
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_funnel_joins_share_user_partitioning(spark):
    plan = _plan(spark, "events_funnel")
    # step frames are user-keyed aggregates; no sort-merge cascades
    assert plan.count("SortMergeJoin") == 0


def test_rollup_cascade_single_fact_scan(spark):
    plan = _plan(spark, "timeseries_rollup_cascade")
    # hour/day/month all derive from ONE events scan (checkpointed hourly
    # partials) — the naive 3-scan form would show 3 parquet reads
    assert plan.count("Scan parquet") <= 1


def test_regression_moments_partial_aggregate(spark):
    plan = _plan(spark, "stat_regression_exact")
    # two-phase aggregation: map-side partial sums must be present
    # (a bare HashAggregate check would pass for ANY aggregate plan)
    assert "partial_sum" in plan


def test_basket_min_support_prunes_before_dim_joins(spark):
    plan = _plan(spark, "basket_part_pairs")
    # item-count and order-count sides broadcast; pair agg is the only
    # fact-sized exchange chain
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_segment_dedup_single_value_shuffle(spark):
    plan = _plan(spark, "text_segment_dedup")
    # groups by segment value once + doc re-assembly; no cartesian
    assert "CartesianProduct" not in plan


def test_triangle_wedge_joins_are_hash_joins(spark):
    plan = _plan(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_image_pipeline_single_python_boundary(spark, tmp_path):
    """The image lane's plan must contain exactly ONE Python boundary
    (the declared mapInPandas running decode→mask→crop→normalize→
    featurize) and no row-at-a-time Python anywhere. Pinned on the
    library frame — the registry entry detaches its result, so its final
    plan is a block scan by design."""
    import numpy as np

    from gjenbruksstasjoner_kotid_estimering_spark.sources import images as im
    from gjenbruksstasjoner_kotid_estimering_spark.sources import jpeg

    frame = np.zeros((16, 16, 3), dtype=np.uint8)
    p = tmp_path / "station_id_41_20200506T094000.jpg"
    p.write_bytes(jpeg.encode(frame))
    df = im.pipeline_stats(im.read_images(spark, str(tmp_path)))
    jqe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = jqe.explainString(mode)
    import re

    # formatted mode names each node once in the tree and once in the
    # details — count the detail headers
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert nodes.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "ArrowEvalPython" not in plan  # metadata parse stays JVM-side


def test_bucketed_registry_join_no_exchange_below_join(spark):
    """join_bucketed_colocated's claim: with both facts bucketed on the
    join key, the ONLY exchange in the plan is the final group-by — the
    join itself reads bucket-aligned splits shuffle-free."""
    from gjenbruksstasjoner_kotid_estimering_spark.plans.bucketed import (
        bucketed_join_plan,
    )

    plan = bucketed_join_plan(spark, SF)
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 1, plan  # the 5-group agg only


def test_top_paths_uses_take_ordered(spark):
    # global top-20 must be TakeOrdered (partial per partition), never a
    # full sort of every path
    plan = _plan(spark, "events_top_paths")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_running_distinct_exchange_budget(spark):
    # first-occurrence window, daily agg, cumulative window: the
    # (event_type, user_id) window partitioning must not add extra
    # exchanges beyond the three key changes
    import re

    plan = _plan(spark, "window_running_distinct")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 3, plan


def test_collation_group_is_two_phase(spark):
    # collated keys are not hash-aggregatable (SortAggregate is expected),
    # but the aggregation must still be TWO-PHASE: a map-side partial
    # before the exchange, so the shuffle moves groups, not rows
    plan = _plan(spark, "string_collation_ci")
    assert "partial_count" in plan
    assert plan.count("SortAggregate") >= 2


def test_exact_vs_approx_distinct_no_expand(spark):
    """agg_distinct_exact_vs_approx must keep the pre-deduplicated
    single-pass shape: the dedup groupBy gets map-side partial
    aggregation and the per-flag count follows — no Expand operator
    (the multi-distinct plan shape whose shuffle carries raw rows)."""
    plan = _plan(spark, "agg_distinct_exact_vs_approx")
    assert "Expand" not in plan
    n_exchanges = sum(
        1
        for l in plan.splitlines()
        if l.strip().startswith("(") and l.strip().endswith("Exchange")
    )
    assert n_exchanges <= 2  # dedup shuffle + final agg shuffle


def test_round7_window_pipelines_single_exchange(spark):
    """Interval merge and touch attribution each run BOTH window passes
    and the final step on ONE user_id exchange — no re-shuffle between
    window and aggregate."""
    import re

    for name in ("timeseries_merge_intervals", "events_attribution_touch"):
        plan = _plan(spark, name)
        # formatted mode: each physical node appears once as a
        # "(N) Exchange" details header — exact node count
        n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_exchanges == 1, (name, n_exchanges)


def test_bitmap_rollup_reaggregates_words_not_facts(spark):
    """Bitmap words are built once per union leg and the monthly level
    re-aggregates WORDS (bit_or merge), never the fact rows."""
    plan = _plan(spark, "agg_bitmap_distinct_rollup")
    # formatted mode lists each node twice (tree + details): 2 real
    # scans, one per union leg
    assert plan.count("Scan parquet") <= 4
    assert "bit_or" in plan and "bit_count" in plan


def test_corr_covar_is_one_partial_aggregate(spark):
    plan = _plan(spark, "stat_corr_covar_exact")
    # ONE partial+final aggregate pair on ONE exchange (formatted mode
    # lists each node twice: tree + details)
    import re

    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_max_by_is_aggregate_not_window(spark):
    plan = _plan(spark, "agg_max_by_min_by")
    assert "max_by" in plan
    assert "Window" not in plan  # the whole point vs rank-then-filter


# A formatted plan (AQE off) of a localCheckpoint'ed frame joined with a
# broadcast copy of itself: both sides read the materialized RDD.
MATERIALIZED_PLAN = """== Physical Plan ==
* Project (6)
+- * BroadcastHashJoin Inner BuildRight (5)
   :- * Scan ExistingRDD (1)
   +- BroadcastExchange (4)
      +- * Project (3)
         +- * Scan ExistingRDD (2)


(1) Scan ExistingRDD [codegen id : 2]
Output [2]: [id#0L, v#1L]
Arguments: [id#0L, v#1L], MapPartitionsRDD[3] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, SinglePartition, [id#0L ASC NULLS FIRST]

(2) Scan ExistingRDD [codegen id : 1]
Output [2]: [id#3L, v#4L]
Arguments: [id#3L, v#4L], MapPartitionsRDD[3] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, SinglePartition, [id#3L ASC NULLS FIRST]

(3) Project [codegen id : 1]
Output [2]: [id#3L, v#4L AS w#2L]
Input [2]: [id#3L, v#4L]

(4) BroadcastExchange
Input [2]: [id#3L, w#2L]
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=31]

(5) BroadcastHashJoin [codegen id : 2]
Left keys [1]: [id#0L]
Right keys [1]: [id#3L]
Join type: Inner
Join condition: None

(6) Project [codegen id : 2]
Output [3]: [id#0L, v#1L, w#2L]
Input [4]: [id#0L, v#1L, id#3L, w#2L]
"""


def test_plan_report_counts_materialized_scans():
    """PLANS.md must not pass a materialized input off as a plain scan:
    each ``Scan ExistingRDD`` node counts once (formatted mode names it
    in the tree and again in its details), and a plan without one
    counts zero."""
    from scripts.plan_report import summarize

    s = summarize(MATERIALIZED_PLAN)
    assert s["materialized"] == 2
    assert s["joins"] == ["BroadcastHashJoin"]
    assert s["py"] == []
    plain = MATERIALIZED_PLAN.replace("Scan ExistingRDD", "Scan parquet")
    assert summarize(plain)["materialized"] == 0
