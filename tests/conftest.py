from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"

# Hypothesis example budget for the property tests. The in-suite default
# stays small (one Spark job per example), but a deep fuzz pass can raise
# it without code edits: GRAFT_HYP_EXAMPLES=100 pytest tests/ -k hypothesis
import os as _os

HYP_EXAMPLES = int(_os.environ.get("GRAFT_HYP_EXAMPLES", "5"))


@pytest.fixture(scope="session")
def spark():
    from gjenbruksstasjoner_kotid_estimering_spark.session import get_spark

    spark = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield spark


def jobs_started(spark, group, fn):
    """Spark jobs ``fn()`` starts, counted under a private job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
