"""Driver threads for independent Spark actions.

Spark job submission is thread-safe, so independent branches of one
computation (two dictionary builds, the k delta cascades, the MDL
histogram queries, the branches of a snapshot commit) are submitted
from driver threads and their stages share the executors at once. The
per-job fixed cost then overlaps instead of adding up.

Each call is wrapped with ``pyspark.inheritable_thread_target`` in the
CALLING thread, so its jobs carry the caller's local properties (job
group, description, scheduler pool) and session tags: a job group set
around a layer call covers the jobs its helper threads launch too.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")


def side_by_side(
    spark: SparkSession, calls: Sequence[Callable[[], T]], max_workers: int | None = None
) -> list[T]:
    """Run each call on a driver thread (at most ``max_workers`` at
    once) and return the results in call order. Every call finishes
    before an error is raised: the first failing call's exception, in
    call order, propagates once all of them are done, so no branch is
    still running when the caller reacts to the failure."""
    if len(calls) <= 1:
        return [c() for c in calls]
    wrap = inheritable_thread_target(spark)
    if wrap is spark:  # threads not pinned to JVM threads: nothing to inherit
        wrap = lambda c: c  # noqa: E731
    with ThreadPoolExecutor(max_workers=max_workers or len(calls)) as pool:
        futures = [pool.submit(wrap(c)) for c in calls]
    return [f.result() for f in futures]
