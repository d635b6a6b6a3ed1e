"""Process-wide registry for persisted intermediate tables.

Several operators persist a mid-plan table that feeds two downstream
subtrees (LSH blocking buckets, the OOV (group, token) count table, …).
A lazily-returned plan gives the library no "last action" signal to
unpersist on, so those caches are retained until released. Identical
re-plans are deduplicated by Spark's cache manager, but DIFFERENT
inputs in one long-lived session accumulate cached blocks — call
:func:`release_tracked_caches` between corpora (or
``spark.catalog.clearCache()`` for everything).

This module exists (rather than living in ``dedup``) so ``text`` and
other modules that ``dedup`` itself imports can share the registry
without an import cycle. ``dedup.release_blocking_caches`` remains the
public alias.

It also holds the bounded memos the similarity operators keep per
corpus version (trained quantizers, training samples, persisted search
indexes): one lock and one FIFO bound for all of them, since operators
built on concurrent driver threads reach them at once — and
:func:`overlap`, the one way the package runs independent builders on
concurrent driver threads.
"""

from __future__ import annotations

import threading
import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame

_TRACKED_CACHES: list[DataFrame] = []

_MEMO_LOCK = threading.Lock()
_MEMO_BOUND = 8
# {(session, corpus version, kind, params): persisted corpus frame} —
# the similarity search indexes; emptied by release_tracked_caches.
_INDEX_MEMO: dict[tuple, DataFrame] = {}


def _unpersist(value) -> None:
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:  # noqa: BLE001 — session may already be gone
            pass


def _memo_get(memo: dict, key: tuple | None):
    if key is None:
        return None
    with _MEMO_LOCK:
        return memo.get(key)


def _memo_put(memo: dict, key: tuple | None, value):
    """Store ``value`` under ``key`` and return what the memo now holds
    there: an entry a concurrent builder stored first wins (values are
    deterministic per key). Past the bound the oldest entry goes; an
    evicted DataFrame is unpersisted."""
    if key is None:
        return value
    evicted = None
    with _MEMO_LOCK:
        if key in memo:
            return memo[key]
        if len(memo) >= _MEMO_BOUND:
            evicted = memo.pop(next(iter(memo)))
        memo[key] = value
    _unpersist(evicted)
    return value


def _memo_evict(memo: dict, stale) -> None:
    """Drop (and unpersist) every entry whose key satisfies ``stale``."""
    with _MEMO_LOCK:
        gone = [memo.pop(k) for k in [k for k in memo if stale(k)]]
    for value in gone:
        _unpersist(value)


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` MEMORY_AND_DISK and register it for release."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED_CACHES.append(df)
    return df


def release_tracked_caches() -> int:
    """Unpersist every tracked intermediate and every similarity search
    index cached in this process and return how many were released.

    Call between corpora in a long-lived session; safe while earlier
    result DataFrames are still alive (Spark recomputes on next action).
    """
    with _MEMO_LOCK:
        released = list(_INDEX_MEMO.values())
        _INDEX_MEMO.clear()
    while _TRACKED_CACHES:
        released.append(_TRACKED_CACHES.pop())
    for df in released:
        _unpersist(df)
    return len(released)


def overlap(session, *builders):
    """Call the zero-argument ``builders`` on concurrent driver threads and
    return their results in order — independent eager job chains overlap
    instead of paying each job tail in turn.

    Each branch inherits the caller's job group, description, pool and
    tags, so the caller's ``cancelJobGroup`` reaches every job, and tags
    its jobs with one tag per call. On the first failure the jobs still
    running under that tag are cancelled (again while the other branches
    wind down, in case one submits another job), and the first error is
    raised. Without a SparkContext (Spark Connect) the branches run
    untagged and a failure waits for the others to finish.
    """
    from pyspark import inheritable_thread_target

    sc = getattr(session, "sparkContext", None)  # None under Spark Connect
    tag = f"pns-overlap-{uuid.uuid4().hex}"

    def tagged(build):
        def run():
            if sc is not None:
                sc.addJobTag(tag)
            return build()

        # Wrapped on the caller's thread: the wrapper copies the caller's
        # local properties when it is made, one copy per branch.
        return inheritable_thread_target(session)(run)

    with ThreadPoolExecutor(max_workers=max(len(builders), 1)) as pool:
        futures = [pool.submit(tagged(b)) for b in builders]
        done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        errors = [f.exception() for f in done if f.exception() is not None]
        while errors and pending and sc is not None:
            sc.cancelJobsWithTag(tag)
            _, pending = wait(pending, timeout=0.2)
        if errors:
            raise errors[0]
    return [f.result() for f in futures]
