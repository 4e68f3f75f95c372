"""Kafka sinks (SURVEY §2.2 K1/K2).

Delivery semantics (documented delta vs the reference, SURVEY §7.3):
Flink's sink is transactional EXACTLY_ONCE (FlinkSinkUtil.java:20-31);
Spark's Kafka sink is at-least-once under checkpointing.  Effective
exactly-once is restored downstream by keyed idempotence: every DWD
record carries its primary key (upsert_kafka_records), so replayed
writes collapse in any keyed consumer/table.  The file stand-in for an
append topic (``publish_batch``, the warehouse's DWD streams) is
exactly-once by construction: one file per batch id, replaced on replay.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter


def kafka_records(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """The append-sink wire projection (SQLUtil.java:41-48): value = JSON
    of the whole row, key = the optional key column as a string.  Shared
    by `kafka_append` and the broker-less transport contract tests
    (tests/test_kafka_contract.py), so what the tests assert is exactly
    what production ships."""
    cols = [F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value")]
    if key_col:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    return df.select(*cols)


def kafka_append(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint: str,
    key_col: str | None = None,
) -> DataStreamWriter:
    """K1/K2 — JSON append sink (SQLUtil.java:41-48)."""
    return (
        kafka_records(df, key_col)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def publish_batch(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Write ``df`` into ``out_dir`` as exactly one parquet file named
    after ``batch_id``, so a replayed batch overwrites its own file
    instead of appending a duplicate.  The file is built under an
    ``_``-prefixed dir, which file-stream readers skip, and moved in with
    ``os.replace``, so a reader never lists a partial file."""
    tmp = os.path.join(out_dir, f"_tmp_{batch_id}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = [f for f in os.listdir(tmp) if f.startswith("part-")]
    os.replace(os.path.join(tmp, part), os.path.join(out_dir, f"batch-{batch_id:012d}.parquet"))
    shutil.rmtree(tmp)
