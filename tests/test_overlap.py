"""``_caching.overlap``: concurrent builders keep the caller's job group,
return in order, and a failing branch cancels the others' jobs."""

from __future__ import annotations

import threading
import time

import pytest

from polars_nexpresso_spark.functions._caching import overlap


def _slow_job(spark, done: threading.Event) -> None:
    """Four parallel tasks that sleep 20 s each in short steps, then set
    ``done`` — which only happens if the job was not cancelled."""

    def sleepy(batches):
        for batch in batches:
            for _ in range(200):
                time.sleep(0.1)
            yield batch

    spark.range(4, numPartitions=4).mapInPandas(sleepy, "id long").collect()
    done.set()


def test_overlap_returns_results_in_order(spark):
    a, b = overlap(
        spark,
        lambda: spark.range(3).count(),
        lambda: spark.range(5).count(),
    )
    assert (a, b) == (3, 5)


def test_overlap_failure_cancels_the_other_branch(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    finished = threading.Event()

    def fail_once_running():
        deadline = time.time() + 30
        while not tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.05)
        raise ValueError("branch failed")

    start = time.time()
    with pytest.raises(ValueError, match="branch failed"):
        overlap(spark, lambda: _slow_job(spark, finished), fail_once_running)
    elapsed = time.time() - start
    assert elapsed < 10, f"error surfaced after {elapsed:.1f} s"
    assert not finished.is_set()
    # The status store hears of the cancelled job through the listener bus.
    deadline = time.time() + 5
    while tracker.getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.05)
    assert list(tracker.getActiveJobsIds()) == []


@pytest.mark.parametrize("build", ["dedup", "text"])
def test_index_builds_run_in_the_callers_job_group(spark, tmp_path, build):
    """Every job an index build starts carries the caller's job group, so
    the caller can cancel it — including the jobs of its overlapped
    writes."""
    from polars_nexpresso_spark.functions.dedup import build_dedup_index
    from polars_nexpresso_spark.functions.retrieval import build_text_index

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 5} jumps over the dog") for i in range(40)],
        "doc_id long, text string",
    )
    name = f"pns_test_group_{build}"
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    grouped = set(tracker.getJobIdsForGroup("g"))
    sc.setJobGroup("g", "index build")
    try:
        if build == "dedup":
            build_dedup_index(
                docs, "text", "doc_id", name,
                num_buckets=4, path=str(tmp_path / name),
            )
        else:
            build_text_index(
                docs, "text", "doc_id", name,
                num_buckets=4, path=str(tmp_path / name),
            )
    finally:
        sc._jsc.clearJobGroup()
        for suffix in ("fp", "lsh", "meta", "postings", "terms", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS {name}_{suffix}")
    leaked = set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert set(tracker.getJobIdsForGroup("g")) - grouped
    assert not leaked, f"jobs outside the caller's group: {sorted(leaked)}"
