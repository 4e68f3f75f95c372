"""SparkSession factory.

Parity target: the reference's per-app environment block
(``BaseAPP.java:26-73`` / ``BaseSQLAPP.java:21-58``): parallelism,
checkpointing, state backend. In Spark those collapse into session confs +
per-query ``checkpointLocation``; everything else (codegen, AQE, shuffle
sizing) is engine-level tuning the reference delegated to Flink.

Scale notes (100 TB design):
  * AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
    and dynamic broadcast conversion replace hand-tuned parallelism
    (reference pins parallelism=4, ``DimAPP.java:44``).
  * ``spark.sql.shuffle.partitions`` here is a local-mode default; on a
    real cluster set it ~2-3x total cores, or leave AQE to coalesce from a
    high initial value.
  * Arrow enabled for every pandas-UDF exchange (dedup/similarity ops).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The reference hardcodes UTC+8 for all datetime string conversion
# (DateFormatUtil.java:30).  The *pipelines* use Asia/Shanghai; the
# testdata harness uses UTC so wall-clock values match the timezone-naive
# parquet timestamps that DuckDB (the oracle) reads.
REFERENCE_TZ = "Asia/Shanghai"
HARNESS_TZ = "UTC"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


# Worker-math thread-cap bookkeeping: vars get_spark caps to "1" via
# setdefault, and the subset that an ambient environment had already set
# to something else (so the cap did NOT take effect this process).
_BLAS_CAP_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                  "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS")
_BLAS_CAP_PRESET: set[str] = set()


def get_spark(
    app_name: str = "flink_realtime_dw4_0_spark",
    master: str | None = None,
    tz: str = HARNESS_TZ,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Works on ``local[N]`` for tests and unchanged on a real cluster
    (master then comes from spark-submit, not from here).
    """
    cpus = default_parallelism()
    # One BLAS thread per python worker (unless the caller overrides):
    # Spark supplies the parallelism as TASKS, and numpy's default of
    # one OpenBLAS/MKL pool per process sized to ALL cores means N
    # concurrent pandas-UDF tasks spawn N*cores threads — measured at
    # the r11 sf10 ladder as 25 workers x 32 threads = ~800 runnable
    # threads, 79% kernel time, and a PQ-encode stage 10x slower than
    # its arithmetic.  Same rule a real cluster uses: executor cores
    # are divided between tasks, so per-task math must be
    # single-threaded.  Must happen BEFORE the JVM launches — python
    # workers are forked by the JVM and inherit its env snapshot.
    for var in _BLAS_CAP_VARS:
        if var in os.environ and os.environ[var] != "1":
            # caller/ambient override wins (setdefault semantics), but
            # record it so tests can tell "cap applied" from "cap
            # defeated by the environment" (r11 ADVICE: presence alone
            # let an ambient OMP_NUM_THREADS=32 pass the pin test)
            _BLAS_CAP_PRESET.add(var)
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.appName(app_name)
        # --- core engine tuning -------------------------------------------
        # local mode runs driver+executors in ONE JVM whose default heap is
        # 1g — far too small for 32 threads + broadcast builds (observed
        # broadcast OOM on the 8x stress corpus).  Only effective at JVM
        # launch; on a real cluster spark-submit owns this.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- semantics ----------------------------------------------------
        .config("spark.sql.session.timeZone", tz)
        # DuckDB-written testdata stores events.ts as INT64 TIMESTAMP(NANOS)
        # which vanilla Spark refuses; read as long and convert explicitly
        # (see sources/files.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # streaming state: RocksDB scales past heap (reference uses a heap
        # HashMap backend, BaseAPP.java:42 — fine at parallelism 4, not at
        # 1000 executors).  Only the library's stateful operators load it:
        # the warehouse's queries are stateless (KeyedTable state), so a
        # warehouse-only process never extracts the RocksDB JNI library.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.statefulOperator.allowMultiple", "true")
        # managed tables (bucketed layouts) live outside the source tree
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/sparkdw-warehouse"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_SET"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
