"""Regenerate registry._PRIORITY stalest-first from driver evidence.

The driver's per-round correctness sample walks ``queries()`` in
dict-insertion order under a ~50-key budget, so after every driver round
the `_PRIORITY` head must be rebuilt or the budget re-verifies keys the
driver just confirmed (r7 verdict #2). This script encodes the rotation
contract mechanically:

1. newest driver evidence per key = max round over CORRECTNESS_r*.json
   that sampled it (zero if never sampled);
2. order = zero-evidence keys first, then ascending newest-evidence
   round, alphabetical within a round;
3. rewrite the `_PRIORITY` tuple in registry.py in that order, with one
   comment line per evidence group.

Run from the repo root after a new CORRECTNESS_r{N}.json lands:

    python scripts/rotate_priority.py        # rewrites registry.py
    python -m pytest tests/test_registry.py -q   # must be green after

tests/test_registry.py::test_priority_head_is_rotated is the guard that
fails when this script hasn't been run.
"""

from __future__ import annotations

import os
import re
import sys

# Keys whose Spark plan was REWRITTEN after their newest driver evidence —
# the driver has never value-hashed the current implementation, so they
# jump the stalest-first queue (r9 verdict #2). Each entry is
# (key, rewrite_round): the build-session round in which the plan changed.
# A round-R rewrite happens AFTER round R's driver sweep (rewrites respond
# to round-R verdicts), so round-R evidence hashed the PRE-rewrite plan —
# a pin therefore expires only once the key carries evidence STRICTLY
# GREATER than its own rewrite round (r10 advice: `>=` would wrongly
# expire a key that was sampled in round R and rewritten right after).
# Add an entry when rewriting an implemented key; the script warns when
# an entry is expired and safe to delete. Active pins are EXEMPT from
# test_priority_head_is_rotated's no-resample assertion (a key sampled
# and then rewritten in the same round SHOULD be re-sampled).
# (r10: the three r8/r9-rewrite pins were driver-hashed green in r10 and
# deleted per the r10 verdict #2.)
# (the 21 r17-rewrite pins were confirmed by CORRECTNESS_r18.json and
# deleted.)
PINNED_REWRITTEN: tuple[tuple[str, int], ...] = ()

# The driver's per-round correctness sample budget (keys per sweep,
# observed stable at 50 across CORRECTNESS_r02..r15). Single source of
# truth — evidence_report's next-round-head prediction imports it so a
# drifting budget is a one-line edit here, not a silent skew there
# (r15 advice).
DRIVER_SAMPLE_N = 50

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY_PY = os.path.join(
    REPO, "gjenbruksstasjoner_kotid_estimering_spark", "registry.py"
)


def active_pin_keys(
    pinned: tuple[tuple[str, int], ...], evidence: dict[str, int]
) -> list[str]:
    """Pins still awaiting a post-rewrite driver hash. A round-R rewrite
    lands AFTER round R's sweep, so evidence == R still hashed the old
    plan — only evidence STRICTLY greater than the rewrite round expires
    a pin (r10 advice). Shared with test_registry's tripwire exemption."""
    return [k for k, r in pinned if not evidence.get(k, 0) > r]


def build_block(
    order: list[str], evidence: dict[str, int], pins: list[str] | None = None
) -> str:
    lines = [
        "# The driver's correctness sweep walks ``queries()`` in dict-insertion",
        "# order under a ~50-query-per-round budget. Rotation contract (encoded",
        "# in tests/test_registry.py::test_priority_head_is_rotated): after each",
        "# driver round the head is rebuilt STALEST-FIRST from the union of",
        "# CORRECTNESS_r01..rNN — keys with zero driver evidence first, then by",
        "# oldest newest-evidence round (alphabetical within a round).",
        "# Regenerate with: python scripts/rotate_priority.py",
        "_PRIORITY: tuple[str, ...] = (",
    ]
    pins = pins or []
    if pins:
        lines.append(
            f"    # --- pinned: rewritten since newest evidence ({len(pins)} keys) ---"
        )
        for key in pins:
            lines.append(f'    "{key}",')
    cur: int | None = None
    for key in order:
        if key in pins:
            continue
        rnd = evidence.get(key, 0)
        if rnd != cur:
            cur = rnd
            label = (
                "zero driver evidence"
                if rnd == 0
                else f"newest driver evidence r{rnd}"
            )
            n = sum(
                1
                for k in order
                if k not in pins and evidence.get(k, 0) == rnd
            )
            lines.append(f"    # --- {label} ({n} keys) ---")
        lines.append(f'    "{key}",')
    lines.append(")")
    return "\n".join(lines)


def main() -> int:
    sys.path.insert(0, REPO)
    from gjenbruksstasjoner_kotid_estimering_spark import registry
    from gjenbruksstasjoner_kotid_estimering_spark.evidence import newest_evidence

    names = list(registry.all_specs())
    evidence = newest_evidence(REPO)
    order = sorted(names, key=lambda k: (evidence.get(k, 0), k))
    pinned = tuple((k, r) for k, r in PINNED_REWRITTEN if k in names)
    pins = active_pin_keys(pinned, evidence)
    dropped = [k for k, _ in pinned if k not in pins]
    if dropped:
        print(
            "rotate_priority: WARNING pins confirmed since their rewrite "
            f"round (delete from PINNED_REWRITTEN): {dropped}",
            file=sys.stderr,
        )
    order = pins + [k for k in order if k not in pins]
    block = build_block(order, evidence, pins)

    src = open(REGISTRY_PY).read()
    pattern = re.compile(
        r"# The driver's correctness sweep walks.*?^_PRIORITY: tuple\[str, \.\.\.\] = \(.*?^\)",
        re.S | re.M,
    )
    if not pattern.search(src):
        print("rotate_priority: could not locate the _PRIORITY block", file=sys.stderr)
        return 1
    open(REGISTRY_PY, "w").write(pattern.sub(lambda _: block, src, count=1))
    never = [k for k in order if k not in evidence]
    print(
        f"rotate_priority: {len(order)} keys reordered; "
        f"{len(never)} never-sampled at head: {never[:10]}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
