"""Driver threads for the independent steps of one batch.

A small CDC batch spends most of its wall time on the driver — Catalyst
planning and per-job fixed cost — with the executors idle. Steps that do
not read each other's results (one table's merges and another's, two
domain queries) can then overlap: while one thread plans, another's jobs
run.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Callable, Iterable, TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")
R = TypeVar("R")


def map_parallel(
    spark: SparkSession, fn: Callable[[T], R], items: Iterable[T]
) -> list[R]:
    """``[fn(item) for item in items]``, with the calls in up to
    ``min(len(items), defaultParallelism)`` threads. Waits for every call,
    then re-raises the first failure in item order; results come back in
    item order. No thread outlives the call.

    Each call is wrapped on its own with ``inheritable_thread_target``, so
    its thread runs with its own clone of the caller's local properties and
    session tags: its jobs carry the caller's job tags and job group (a
    streaming query's ``stop`` cancels them), and its SQL executions nest
    under the caller's, never under a sibling call's. One wrapper shared by
    the threads would share one ``Properties`` object, and one call's SQL
    executions would nest under another's. Needs PySpark's pinned thread
    mode (the default), where each Python thread has its own JVM thread."""
    items = list(items)
    if len(items) <= 1:
        return [fn(item) for item in items]
    workers = min(len(items), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(workers) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(partial(fn, item)))
            for item in items
        ]
    return [future.result() for future in futures]
