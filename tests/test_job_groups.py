"""Job attribution across driver threads: every Spark job a query
launches runs in its caller's job group, including the jobs setsim
overlaps on a second driver thread. A job outside the group can be
neither attributed to the query nor cancelled with it
(`cancelJobGroup`). Job groups also pin the headline queries' job
counts, which dominate their latency at small scale."""

from __future__ import annotations

import time

from bench import force
from discogs_xml_to_parquet_spark import registry
from tests.conftest import SF_SMOKE

GROUP = "setsim-attribution"

# Jobs per run of each headline query at sf0.001 on the test session, in
# a session that has loaded its tables before (schemas reused).
HEADLINE_JOBS = {
    "q_curation_pipeline": 18,
    "q_asof_join": 5,
    "q_sessionize_events": 4,
    "q_stream_tumbling": 4,
}

# The same for the other connected-components consumers: their graphs
# are labeled on the driver, so a distributed CC round loop coming back
# shows up here as extra jobs.
CC_JOBS = {
    "q_dedup_components": 12,
    "q_curation_keep_best": 13,
    "q_entity_resolution": 10,
}


def _settled_job_ids(tracker, group, timeout_s=30.0):
    """Job ids of `group` (None = jobs outside any group) once the
    async listener has stopped adding to them for one second."""
    prev, stable_polls = None, 0
    deadline = time.monotonic() + timeout_s
    while stable_polls < 5 and time.monotonic() < deadline:
        ids = set(tracker.getJobIdsForGroup(group))
        stable_polls = stable_polls + 1 if ids == prev else 0
        prev = ids
        time.sleep(0.2)
    return prev


def _clear_job_group(sc):
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_setsim_overlapped_jobs_stay_in_callers_group(spark):
    registry.load_all_queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = _settled_job_ids(tracker, None)
    sc.setJobGroup(GROUP, "q_setsim_prefix_join")
    try:
        registry.QUERIES["q_setsim_prefix_join"](spark, SF_SMOKE).collect()
    finally:
        _clear_job_group(sc)
    assert _settled_job_ids(tracker, GROUP), "the query ran no job in its group"
    stray = _settled_job_ids(tracker, None) - ungrouped_before
    assert not stray, f"jobs {sorted(stray)} ran outside the caller's group"


def _assert_jobs_pinned(spark, pinned):
    registry.load_all_queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    counts = {}
    for name in pinned:
        # an uncounted first run, so table schemas are already known
        force(spark, name, SF_SMOKE)
        group = f"pinned-jobs-{name}"
        sc.setJobGroup(group, name)
        try:
            force(spark, name, SF_SMOKE)
        finally:
            _clear_job_group(sc)
        counts[name] = len(_settled_job_ids(tracker, group))
    over = {n: c for n, c in counts.items() if c > pinned[n]}
    assert not over, f"jobs per query {counts} exceed {pinned}"


def test_headline_job_counts_stay_pinned(spark):
    _assert_jobs_pinned(spark, HEADLINE_JOBS)


def test_cc_consumer_job_counts_stay_pinned(spark):
    _assert_jobs_pinned(spark, CC_JOBS)
