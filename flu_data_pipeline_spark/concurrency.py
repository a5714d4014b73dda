"""Concurrent submission of independent Spark driver actions."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def overlap(spark: SparkSession, *thunks):
    """Run independent Spark driver actions concurrently and return
    their results in call order (guide §2.6 — overlap independent
    jobs). A chain of MUTUALLY INDEPENDENT blocking driver actions
    (eager localCheckpoints, probe collects) otherwise serializes on the
    driver while the cluster idles between them; submitting them from a
    small thread pool lets the scheduler back-fill executors freed by
    one job's stragglers with the next job's tasks. Each thunk runs the
    exact job it ran sequentially — same plan, same shuffles, same
    results — only the wall-clock overlap changes, so oracle hashes are
    untouched by construction. Spark's scheduler is explicitly designed
    for concurrent jobs from driver threads (FIFO: earlier submissions
    get resources first, later ones back-fill).

    Each thunk is wrapped in :func:`pyspark.inheritable_thread_target`
    here, on the caller's thread, so the pool threads carry the caller's
    Spark local properties (its job group and description above all)
    and ``spark``'s job tags, and the jobs they start are attributed to
    the caller's work.

    Exceptions propagate to the caller exactly as in the sequential
    form (the first failing thunk's error raises at its position's
    result())."""
    if len(thunks) == 1:
        return [thunks[0]()]
    targets = [inheritable_thread_target(spark)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(t) for t in targets]
        return [f.result() for f in futures]
