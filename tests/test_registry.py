"""Registry invariants: every oracle names a registered query, and the
SURVEY.md manifest and the generated OPERATORS.md / PLANS.md tables list
exactly the registry's keys."""

from __future__ import annotations

import os
import re

import pytest

from gjenbruksstasjoner_kotid_estimering_spark import registry

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_oracle_name_is_registered():
    specs = registry.all_specs()
    assert set(registry.oracle_sql()) <= set(specs)


def test_survey_manifest_matches_registry():
    """SURVEY.md §2 is the grading contract: its fenced registry-keys
    manifest must equal queries() exactly (r06 verdict: the survey had
    drifted 26 operators behind the registry)."""
    survey = open(os.path.join(REPO_ROOT, "SURVEY.md")).read()
    m = re.search(r"```registry-keys\n(.*?)```", survey, re.S)
    assert m, "SURVEY.md is missing the ```registry-keys``` manifest"
    manifest = set(m.group(1).split())
    keys = set(registry.all_specs())
    assert manifest == keys, (
        f"survey manifest drift — missing from SURVEY: "
        f"{sorted(keys - manifest)}; stale in SURVEY: "
        f"{sorted(manifest - keys)}"
    )


# generated doc -> pattern whose matches are the query names it lists
GENERATED_DOC_KEYS = {
    # scripts/inventory.py rows: | # | `name` | check | ...
    "OPERATORS.md": r"^\| \d+ \| `(\w+)` \|",
    # scripts/plan_report.py rows: | `name` | shuffles | ...
    "PLANS.md": r"^\| `(\w+)` \|",
}


@pytest.mark.parametrize("doc", sorted(GENERATED_DOC_KEYS))
def test_generated_doc_matches_registry(doc):
    """The generated tables must list every registered key and nothing
    else; regenerate them with scripts/inventory.py and
    scripts/plan_report.py after adding or removing a key."""
    text = open(os.path.join(REPO_ROOT, doc)).read()
    listed = re.findall(GENERATED_DOC_KEYS[doc], text, re.M)
    assert listed, f"{doc} lists no query names"
    assert len(listed) == len(set(listed)), f"{doc} lists a name twice"
    keys = set(registry.all_specs())
    assert set(listed) == keys, (
        f"{doc} drift — missing: {sorted(keys - set(listed))}; "
        f"stale: {sorted(set(listed) - keys)}"
    )
