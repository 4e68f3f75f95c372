"""CDC envelope decode + config-table snapshot reads (SURVEY §2.1 S2).

The reference captures MySQL binlog via Flink-CDC (Debezium) with an
initial-snapshot-then-incremental startup (FlinkSourceUtil.java:63-80).
Spark has no first-party CDC capture; the equivalent capability is:

  * consume a Debezium/Maxwell topic as a stream (sources/kafka.py), or
  * re-read the (small) config table per micro-batch — which is all the
    DIM path actually needs (DimAPP.java:55-59), and removes the
    broadcast-state bootstrap race (DimBroadcastFunction.java:40-50) by
    construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas


def decode_debezium(df: DataFrame) -> DataFrame:
    """Debezium `{op, before, after}` → flattened config rows
    (DimAPP.java:137-162: op r/c/u → use `after`, d → use `before`)."""
    j = F.from_json("value", schemas.DEBEZIUM_ENVELOPE)
    src = F.when(j["op"] == "d", j["before"]).otherwise(j["after"])
    return df.select(
        j["op"].alias("op"),
        src.alias("row"),
    )


def debezium_to_table_process(df: DataFrame) -> DataFrame:
    """Config rows for the DIM dispatcher (TableProcessDim.java:19-38),
    with the snake_case→field mapping done at decode (JdbcUtil.java:65-67
    does camelCase via Guava; we keep snake_case column names)."""
    decoded = decode_debezium(df)
    return decoded.select(
        F.col("row")["source_table"].alias("source_table"),
        F.col("row")["sink_table"].alias("sink_table"),
        F.col("row")["sink_columns"].alias("sink_columns"),
        F.col("row")["sink_family"].alias("sink_family"),
        F.col("row")["sink_row_key"].alias("sink_row_key"),
        F.col("op").alias("op"),
    )


def jdbc_snapshot(
    spark: SparkSession,
    url: str,
    table: str,
    user: str,
    password: str,
) -> DataFrame:
    """Per-micro-batch snapshot of a small config table over JDBC — the
    stream-static replacement for broadcast CDC state (J6).  Matches
    JdbcUtil.queryList (JdbcUtil.java:38-75)."""
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .load()
    )
