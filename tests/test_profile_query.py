"""The per-query profiler sees the jobs a query runs while its DataFrame is
built, not only the jobs of the plan it returns, and the adaptive-gate
decisions that build made."""

from __future__ import annotations

import os
import sys

from conftest import SF_SMOKE


def test_profile_splits_build_and_execution_jobs(spark):
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from profile_query import Profiler

    # a child session: the profiler's QueryExecution listener reports only
    # that session's queries, so the shared test session stays untouched
    rec = Profiler(spark.newSession()).profile("dedup_cc_canonical", SF_SMOKE)
    # connected components runs its rounds eagerly while the plan is built
    assert rec["registry.build_jobs"] > 0
    assert rec["registry.build_shuffle_bytes"] > 0
    assert rec["build_py4j_calls"] > 0  # driver round-trips while building
    assert rec["operators.jobs"] >= 1
    assert rec["cpus"] == len(os.sched_getaffinity(0))
    # the record names the adaptive gates its build decided
    assert [g["path"] for g in rec["gates"] if g["gate"] == "cc"] == ["driver"]


def test_triangle_stats_job_budget(spark):
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from profile_query import Profiler

    rec = Profiler(spark.newSession()).profile("graph_triangle_stats", SF_SMOKE)
    # measured 6 build + 1 execution jobs with the driver census (the
    # distributed census ran 6 + 8); one job of slack
    assert rec["registry.build_jobs"] + rec["operators.jobs"] <= 8
    assert [g["path"] for g in rec["gates"] if g["gate"] == "triangles"] == ["driver"]


def test_no_build_jobs_without_checkpoints(spark):
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from profile_query import Profiler

    # a lazy checkpoint of an adaptive plan runs its shuffle stages while
    # the plan is built; these queries lost theirs (COVERAGE.md,
    # "localCheckpoint sites") and build without running a job
    prof = Profiler(spark.newSession())
    assert {q: prof.profile(q, SF_SMOKE)["registry.build_jobs"]
            for q in ("sketch_kmv_distinct", "ts_seasonal_naive")} \
        == {"sketch_kmv_distinct": 0, "ts_seasonal_naive": 0}


def test_every_sample_starts_with_an_empty_cache(spark):
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from profile_query import RUNS, Profiler

    session = spark.newSession()
    prof = Profiler(session)
    cache = session._jsparkSession.sharedState().cacheManager()
    empty_at_build = []

    def persisting(s, fixture):
        # an operator that persists an intermediate inside its plan
        empty_at_build.append(cache.isEmpty())
        return s.range(1000).selectExpr("id % 7 AS k").persist()

    prof.queries = {"persisting": persisting}
    try:
        prof.profile("persisting", SF_SMOKE)
        assert empty_at_build == [True] * (RUNS + 1)  # warm-up + timed runs
    finally:
        session.catalog.clearCache()
