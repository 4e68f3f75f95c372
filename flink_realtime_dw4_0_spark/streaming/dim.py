"""DIM pipeline — the DimAPP equivalent (SURVEY §3.1).

Reference flow (DimAPP.java:48-80): Kafka topic_db → ETL → broadcast-join
with MySQL-CDC config stream → per-record column pruning → HBase
upsert/delete, with dynamic DDL from config ops.

Spark restatement: one streaming query; each micro-batch re-reads the
config snapshot (kills the broadcast-state race, DimBroadcastFunction.java:40-50),
broadcast-joins it, prunes the map payload, and MERGEs per dim table into
the warehouse.  All driver-side effects are idempotent across replays.

Scale notes: the config table is tiny → broadcast; the fact stream never
shuffles (broadcast join + per-table filter), so per-batch cost is one
scan of the batch + one MERGE per touched dim table, the tables merging
concurrently.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import etl, joins
from ..sinks.dim import DimWarehouse
from .overlap import run_concurrently


def dim_transform(batch: DataFrame, config: DataFrame) -> DataFrame:
    """ETL (P9) → config dispatch (J6) → dynamic column pruning (P10)."""
    valid = etl.etl_cdc_valid(batch)
    joined = joins.config_dispatch_join(valid, config, key=("table", "source_table"))
    keep = F.split(F.col("sink_columns"), ",")
    return joined.withColumn("data", etl.prune_map_columns(F.col("data"), keep))


def dim_foreach_batch(
    warehouse: DimWarehouse,
    config_provider: Callable[[SparkSession], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: join config, prune, MERGE per dim table
    (K4, DimHBaseSinkFunction.java:39-75)."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        config = config_provider(spark)
        # bounded by the dim config, not by the batch: one row per
        # configured source table (tens of rows)
        config_rows = config.collect()
        transformed = dim_transform(batch, config).persist()

        def merge_rows(rows) -> None:
            for cfg in rows:
                sub = transformed.filter(F.col("sink_table") == cfg["sink_table"])
                sub = sub.select(
                    F.element_at("data", cfg["sink_row_key"]).alias("rowkey"),
                    F.col("data"),
                    F.col("type"),
                    F.col("ts"),
                )
                if not sub.limit(1).count():
                    continue
                warehouse.apply_ddl([{"sink_table": cfg["sink_table"], "op": "r"}])
                warehouse.merge_dim_batch(spark, sub, cfg["sink_table"], row_key="rowkey")

        # dim tables merge concurrently; rows sharing a sink table stay in
        # one thunk, in config order, so each table keeps its write order
        by_table: dict[str, list] = {}
        for cfg in config_rows:
            by_table.setdefault(cfg["sink_table"], []).append(cfg)
        try:
            run_concurrently(
                spark, [lambda rows=rows: merge_rows(rows) for rows in by_table.values()]
            )
        finally:
            transformed.unpersist()

    return fn


def run_dim_pipeline(
    raw_stream: DataFrame,
    warehouse: DimWarehouse,
    config_provider: Callable[[SparkSession], DataFrame],
    checkpoint: str,
    available_now: bool = False,
):
    """Wire: decoded topic_db stream → foreachBatch dim MERGE."""
    from ..sources.kafka import topic_db

    decoded = topic_db(raw_stream, watermark=None)
    writer = decoded.writeStream.foreachBatch(
        dim_foreach_batch(warehouse, config_provider)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def schema_drift_report(
    batch: DataFrame, config: DataFrame
) -> DataFrame:
    """CDC schema-drift detector: columns arriving in a configured
    table's Maxwell payload that the dim config does NOT list — the
    upstream-added-a-column signal that silently vanishes under the
    keep-list pruning (P10) until someone notices the dim is stale.
    Run it beside the dim merge and alert on any rows.

    One explode of the payload's key set + a distinct + an anti-join
    against the exploded config keep-lists; both sides are
    (table, column) pairs, so the whole check moves kilobytes.
    Returns (source_table, sink_table, new_column, n_rows_seen)."""
    from ..operators import etl

    valid = etl.etl_cdc_valid(batch)
    cfg_cols = config.select(
        "source_table", "sink_table",
        F.explode(F.split(F.col("sink_columns"), ",")).alias("col"),
    ).select("source_table", "sink_table", F.trim(F.col("col")).alias("col"))
    seen = (
        valid.join(
            config.select(F.col("source_table").alias("table"), "sink_table"),
            "table",
        )
        .select(
            F.col("table").alias("source_table"), "sink_table",
            F.explode(F.map_keys(F.col("data"))).alias("col"),
        )
        .groupBy("source_table", "sink_table", "col")
        .agg(F.count(F.lit(1)).alias("n_rows_seen"))
    )
    return (
        seen.join(cfg_cols, ["source_table", "sink_table", "col"], "left_anti")
        .select(
            "source_table", "sink_table",
            F.col("col").alias("new_column"), "n_rows_seen",
        )
    )
