"""DWD log pipeline — the DwdBaseLog equivalent (SURVEY §3.2).

Reference flow (DwdBaseLog.java:43-74): ETL → watermark + keyBy(mid) →
new-visitor ValueState fix → 5-way side-output split (err/start/display/
action/page) → 5 Kafka sinks.

Spark restatement: decode + validity filter (declarative, pushed down) →
foreachBatch { visitor fix against a persistent mid-state table; cache the
batch; route 5 ways (filters + explode); write each route }.  The split
runs over one cached micro-batch — Spark's side-output idiom (K6).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import etl, split, state as state_ops
from ..sinks.kafka import publish_batch
from ..sinks.upsert import KeyedTable


def log_routes(df: DataFrame) -> dict[str, DataFrame]:
    """The five output streams (DwdBaseLog.java:57-73)."""
    return split.split_log(df)


def dwd_log_foreach_batch(
    state_table: KeyedTable,
    writers: dict[str, Callable[[DataFrame, int], None]],
) -> Callable[[DataFrame, int], None]:
    def fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        valid = etl.etl_log_valid(batch)
        flat = valid.withColumn("mid", F.col("common.mid")).withColumn(
            "is_new", F.col("common.is_new")
        )
        inner = state_ops.visitor_fix_batch(flat, state_table, spark)
        # write the fix back into the nested common struct, as the
        # reference mutates common.is_new in place (DwdBaseLog.java:152-176).
        # `inner` comes back persisted+materialized; the routes' narrow
        # projection recomputes from its cached blocks, so no second
        # persist — and it is released here, not leaked per micro-batch.
        fixed = inner.withColumn(
            "common", F.col("common").withField("is_new", F.col("is_new"))
        ).drop("mid", "is_new", "first_login_dt")
        try:
            for name, route_df in log_routes(fixed).items():
                if name in writers:
                    writers[name](route_df, batch_id)
        finally:
            inner.unpersist()

    return fn


def parquet_route_writers(out_root: str, routes: list[str]) -> dict[str, Callable]:
    """File sinks: one parquet dir per route (production swaps in
    kafka_append per topic, Constant.java:58-63), each batch published as
    one file per batch id, so a replayed ODS batch rewrites its own rows
    instead of duplicating them."""

    def writer_for(name: str) -> Callable[[DataFrame, int], None]:
        def w(df: DataFrame, batch_id: int) -> None:
            publish_batch(df, os.path.join(out_root, name), batch_id)

        return w

    return {r: writer_for(r) for r in routes}


def run_dwd_log_pipeline(
    raw_stream: DataFrame,
    state_table: KeyedTable,
    writers: dict[str, Callable],
    checkpoint: str,
    available_now: bool = False,
):
    from ..sources.kafka import topic_log

    decoded = topic_log(raw_stream, watermark=None)
    writer = decoded.writeStream.foreachBatch(
        dwd_log_foreach_batch(state_table, writers)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
