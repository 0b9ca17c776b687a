from __future__ import annotations

import os
import sys
import uuid
from pathlib import Path

import pytest
from hypothesis import settings as hyp_settings

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# Seed-robustness protocol (r14 judge item 2): a "green tip" must certify
# the contracts, not one lucky seed.  Two profiles — "ci" is derandomized
# (deterministic replay of the canonical corpus + all explicit @example
# pins), "exploratory" (default) draws a fresh seed every run.  Round
# protocol: run the suite under BOTH before cutting artifacts; known
# counterexamples are additionally pinned as seed-independent @example
# decorators so they replay under every profile.
hyp_settings.register_profile("ci", derandomize=True)
hyp_settings.register_profile("exploratory", derandomize=False)
hyp_settings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "exploratory"))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def jobs_during(spark, run):
    """Spark job ids started while ``run()`` runs on this thread, and its
    result (the jobs are tagged with a job group of their own)."""
    sc = spark.sparkContext
    group = f"jobs-during-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs_during")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group)), out


def stages_of(spark, jobs) -> int:
    """How many stages the finished Spark ``jobs`` ran (a stage an earlier
    job already ran counts too: its job lists it as skipped)."""
    tracker = spark.sparkContext.statusTracker()
    return sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)


@pytest.fixture(scope="session")
def spark():
    from robi_biometric_qdrant_vector_db_service_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    yield spark
