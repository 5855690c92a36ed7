"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime coalesce + skew-join handling), Arrow for any pandas exchange,
shuffle partitions sized to the parallelism rather than the 200 default.
On a 1000-executor cluster the only knobs that change are master, memory
and ``spark.sql.shuffle.partitions`` (sized to ~2-3x total cores).
"""

from __future__ import annotations

import os
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark import SparkContext, inheritable_thread_target
from pyspark.sql import SparkSession


def get_spark(app_name: str = "hadoop_ir_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events.parquet carries TIMESTAMP(NANOS) which Spark
        # has no native type for; read as long (nanos since epoch)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def parallel_frames(*thunks):
    """Run INDEPENDENT eager thunks concurrently and return their results
    in thunk order. Each thunk builds and materializes one frame (a
    ``localCheckpoint``) or writes one table; submitting them from a
    small thread pool lets the tail of one job back-fill executors freed
    by another instead of running the jobs strictly serially (~25-30%
    off the eval family's build phase at sf0.1; the dedup store writes
    every table of a snapshot this way).

    At most ``defaultParallelism`` thunks run at once (one job per core
    is enough to keep the executors busy). Each thunk inherits the
    caller's Spark local properties (``inheritable_thread_target``), so
    a job group or description set by the caller tags the worker
    threads' jobs too, and ``cancelJobGroup`` reaches them. On the first
    failure the thunks that have not started are cancelled, the running
    ones are waited for, and the first error is re-raised — nothing a
    thunk does can still be in flight when this returns or raises."""
    if not thunks:
        return []
    sc = SparkContext._active_spark_context
    workers = len(thunks)
    if sc is not None:
        # the caller's thread may have no ACTIVE session (e.g. a nested
        # call from a worker thread); the default session is the same one
        session = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        thunks = [inheritable_thread_target(session)(t) for t in thunks]
        workers = min(workers, sc.defaultParallelism)
    ex = ThreadPoolExecutor(workers)
    futs = [ex.submit(t) for t in thunks]
    try:
        done, _ = wait(futs, return_when=FIRST_EXCEPTION)
        failed = [f for f in futs if f in done and f.exception() is not None]
        if failed:
            raise failed[0].exception()
        return [f.result() for f in futs]
    finally:
        # cancels what has not started, waits for what has
        ex.shutdown(wait=True, cancel_futures=True)
