"""session.parallel_frames: results in thunk order, cancel-on-error (the
first failure cancels what has not started, waits for what is running and
re-raises the first error), and job-group propagation into the worker
threads — pinned on the dedup store's concurrent snapshot writes."""

from __future__ import annotations

import threading
import time

import pytest

from hadoop_ir_spark.catalog import parallel_frames as catalog_parallel_frames
from hadoop_ir_spark.session import parallel_frames


def test_results_in_thunk_order():
    assert parallel_frames() == []
    assert parallel_frames(lambda: (time.sleep(0.2), 1)[1],
                           lambda: 2, lambda: 3) == [1, 2, 3]
    # the queries/* callers keep importing it from the catalog
    assert catalog_parallel_frames is parallel_frames


def test_first_error_cancels_pending_and_waits_for_running(spark):
    workers = spark.sparkContext.defaultParallelism
    lock = threading.Lock()
    started, finished = [], []

    def first():
        raise ValueError("first failure")

    def later():
        time.sleep(0.3)
        raise RuntimeError("later failure")

    def slow(i):
        def run():
            with lock:
                started.append(i)
            time.sleep(0.6)
            with lock:
                finished.append(i)
        return run

    thunks = [first, later] + [slow(i) for i in range(workers + 3)]
    with pytest.raises(ValueError, match="first failure"):
        parallel_frames(*thunks)
    # every thunk that started had finished before the call raised...
    assert sorted(started) == sorted(finished)
    snapshot = list(finished)
    time.sleep(0.8)
    assert finished == snapshot
    # ...and the queued ones never ran: the failing thunk's slot may have
    # picked up one more before the cancel, nothing beyond that
    assert len(started) <= workers - 1
    assert len(started) < len(thunks) - 2


def test_job_group_reaches_concurrent_store_writes(spark, tmp_path,
                                                    monkeypatch):
    """A job group the caller sets covers every job of an
    update_dedup_index run, including the table writes submitted from
    the worker threads (a plain thread would carry no group)."""
    from hadoop_ir_spark.operators import dedup_incremental as dinc

    def docs(ids):
        return spark.createDataFrame(
            [(i, f"doc {i} body " + " ".join(f"t{i}w{j}" for j in range(12)))
             for i in ids], "docno long, text string")

    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(docs(range(8)), idx)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "store-fold-under-test"
    write_threads = set()
    orig_write = dinc._SnapAttempt.write

    def spying(self, df, table):
        write_threads.add(threading.get_ident())
        return orig_write(self, df, table)

    monkeypatch.setattr(dinc._SnapAttempt, "write", spying)
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "fold under a caller's job group")
    try:
        dinc.update_dedup_index(spark, idx, docs(range(20, 26)),
                                removed_docs=docs([0]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ungrouped = set(tracker.getJobIdsForGroup(None)) - before
    grouped = tracker.getJobIdsForGroup(group)
    assert threading.get_ident() not in write_threads  # writes ran on workers
    assert not ungrouped, f"jobs escaped the caller's group: {ungrouped}"
    # 8 tables written (5 row tables, 2 delta logs, tombstones), each at
    # least a range-sample job and a write job
    assert len(grouped) >= 16, grouped
