"""Batch/stream file sources over the driver's parquet testdata.

These are the engine's bounded-source equivalents of the reference's Kafka
sources (S1/S3, ``FlinkSourceUtil.java:29-61``): every operator in this
repo is defined on DataFrames, so it runs identically over these bounded
reads and over ``readStream`` inputs.

Scale notes: plain ``spark.read.parquet`` gets predicate pushdown, column
pruning and partition-size splitting (``spark.sql.files.maxPartitionBytes``)
for free — at 100 TB the same call fans out to one task per ~128 MB split.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# events.ts is written as INT64 TIMESTAMP(NANOS) (timezone-naive); with
# spark.sql.legacy.parquet.nanosAsLong=true it arrives as a long we convert
# to a proper timestamp here, once, at the ingest edge.
_NANOS_TS_COLS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Defensive: the harness may hand us a session it built itself.  Both
    # confs are runtime-settable and required for correct reads: nanos
    # parquet (events.ts) refuses to load without the legacy flag, and the
    # oracle comparison assumes UTC wall-clock formatting.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NANOS_TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            # integer div — float division would lose precision on ns epochs
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    # Parquet files whose timestamps carry isAdjustedToUTC=false arrive as
    # TIMESTAMP_NTZ under Spark's NTZ inference; unix_millis & friends only
    # accept TIMESTAMP.  The session timezone is pinned to UTC above, so the
    # cast reinterprets the naive wall clock as a UTC instant — exactly how
    # DuckDB's epoch() treats the same column, keeping the oracle exact.
    for c, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}
