"""Overlap independent sink writes inside one foreachBatch body.

A warehouse micro-batch runs dozens of small Spark jobs (probes,
merges, appends), most of them one task wide; submitted one after
another, they leave the executor idle between driver round-trips.
Steps that write *different* tables do not depend on each other, so the
batch body hands them to ``run_concurrently`` and the scheduler
interleaves their jobs.

Callers keep write order per table: two thunks must never write the same
table (group same-table steps into one thunk).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def run_concurrently(spark: SparkSession, thunks: Sequence[Callable[[], None]]) -> None:
    """Run ``thunks`` on driver threads, one thread each; wait for all of
    them, then re-raise the first failure in thunk order.

    Every thunk is wrapped by ``inheritable_thread_target`` here, on the
    calling thread, so it sees the caller's Spark local properties
    (streaming query and batch id, job group, SQL execution id): its jobs
    stay attributed to the batch and are cancelled with it.  Each thunk
    is wrapped on its own so each thread gets its own copy of the
    properties — Spark rewrites some of them per job (the SQL execution
    id), and a shared copy would leak one thread's value into another.

    Waiting for every thunk before raising keeps a failed batch clean: by
    the time the caller's ``finally`` unpersists the batch, no job that
    reads it is still in flight, and the batch replays whole."""
    targets = [inheritable_thread_target(spark)(t) for t in thunks]
    if not targets:
        return
    # leaving the block joins every thread, failed or not
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(t) for t in targets]
    for f in futures:
        f.result()
