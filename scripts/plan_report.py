"""Generate PLANS.md — physical-plan audit of every registered query:
shuffle (Exchange) count, join strategies, scan pushdown, codegen, python
boundaries. The scale story, mechanically extracted from Catalyst's own
output. Run: python scripts/plan_report.py"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gjenbruksstasjoner_kotid_estimering_spark import registry
from gjenbruksstasjoner_kotid_estimering_spark.session import get_spark

SF = "/root/testdata/sf0.001"

JOIN_KINDS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]
PY_KINDS = ["ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas", "MapInArrow", "BatchEvalPython", "PythonUDTF"]


def summarize(plan: str) -> dict:
    ops = re.findall(r"^\s*(?:[+:]-|\*)*\s*\*?\s*([A-Za-z]+)", plan, re.M)
    joins = sorted({j for j in JOIN_KINDS if j in plan})
    py = sorted({p for p in PY_KINDS if p in plan})
    return {
        "exchanges": len(re.findall(r"^\(\d+\) Exchange", plan, re.M)),
        "joins": joins,
        "py": py,
        "pushed": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
        "codegen": bool(re.search(r"^\s*(?:[+:]-\s*)*\* ", plan, re.M)),
        "window_limit": "WindowGroupLimit" in plan,
        "take_ordered": "TakeOrderedAndProject" in plan,
        # a frame read back from a localCheckpoint plans as this scan
        "materialized": len(re.findall(r"^\(\d+\) Scan ExistingRDD", plan, re.M)),
    }


def main() -> None:
    spark = get_spark("plan-report")
    # static plans: disable AQE so exchanges/codegen are visible pre-run
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    rows = []
    for name, spec in sorted(registry.all_specs().items()):
        try:
            df = spec.builder(spark, SF)
            plan = df._jdf.queryExecution().explainString(mode)
            s = summarize(plan)
            notes = []
            if s["joins"]:
                notes.append("+".join(j.replace("Join", "") for j in s["joins"]))
            if s["py"]:
                notes.append("python:" + "+".join(s["py"]))
            if s["window_limit"]:
                notes.append("WindowGroupLimit")
            if s["take_ordered"]:
                notes.append("TakeOrdered")
            if s["pushed"]:
                notes.append("pushdown")
            if s["materialized"]:
                notes.append(f"materialized:{s['materialized']}")
            rows.append(
                (
                    name,
                    s["exchanges"],
                    "yes" if s["codegen"] else "-",
                    ", ".join(notes) or "-",
                )
            )
        except Exception as e:  # iterative/driver-side queries may need to run
            rows.append((name, "-", "-", f"(dynamic: {type(e).__name__})"))
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    lines = [
        "# PLANS — physical-plan audit (generated by scripts/plan_report.py)",
        "",
        "Static Catalyst plans at sf0.001 with AQE disabled for visibility "
        "(AQE is ON at runtime and may further coalesce/convert). "
        "`shuffles` counts Exchange operators — the unit of cluster cost at "
        "100 TB; `codegen` = whole-stage-codegen spans present. "
        "`materialized:N` counts scans of an already materialized frame "
        "(`Scan ExistingRDD`, e.g. a `localCheckpoint`): the upstream plan "
        "of such an input, including any Arrow/pandas pass, is not shown.",
        "",
        "| query | shuffles | codegen | strategies |",
        "|---|---|---|---|",
    ]
    for name, ex, cg, notes in rows:
        lines.append(f"| `{name}` | {ex} | {cg} | {notes} |")
    lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(rows)} plans")


if __name__ == "__main__":
    main()
