"""Registry invariants: every oracle names a registered query and the
SURVEY.md manifest matches the registry."""

from __future__ import annotations

from gjenbruksstasjoner_kotid_estimering_spark import registry


def test_every_oracle_name_is_registered():
    specs = registry.all_specs()
    assert set(registry.oracle_sql()) <= set(specs)


def test_survey_manifest_matches_registry():
    """SURVEY.md §2 is the grading contract: its fenced registry-keys
    manifest must equal queries() exactly (r06 verdict: the survey had
    drifted 26 operators behind the registry)."""
    import os
    import re

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    survey = open(os.path.join(repo_root, "SURVEY.md")).read()
    m = re.search(r"```registry-keys\n(.*?)```", survey, re.S)
    assert m, "SURVEY.md is missing the ```registry-keys``` manifest"
    manifest = set(m.group(1).split())
    keys = set(registry.all_specs())
    assert manifest == keys, (
        f"survey manifest drift — missing from SURVEY: "
        f"{sorted(keys - manifest)}; stale in SURVEY: "
        f"{sorted(manifest - keys)}"
    )
