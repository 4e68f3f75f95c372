"""Dimension-table sink with dynamic DDL (SURVEY §2.2 K4/K5).

Parity: the HBase dim sink (DimHBaseSinkFunction.java:39-75 — delete on
`type='delete'`, upsert otherwise, target resolved from config) and the
dynamic DDL executor (DimAPP.java:117-182 — config ops c/r → create table,
d → drop, u → drop+create).

Spark restatement: each dim table is a KeyedTable under a warehouse root;
DDL ops become directory lifecycle; all effects run in ``foreachBatch``
and are idempotent across batch replays (SURVEY §7.3 hard part 5: a
replayed MERGE of the same rows converges to the same table).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .upsert import KeyedTable


class DimWarehouse:
    """Directory-per-dim-table warehouse driven by the config stream.

    ``bloom_attrs`` maps a sink table to the payload attributes it is
    probed by BESIDES the rowkey (e.g. ``{"dim_sku_info": ["spu_id"]}``
    — the secondary-access shape the DWS joins take when fetching the
    skus of an spu).  Those attributes are promoted out of the CDC
    ``data`` map into real columns at merge time and declared as the
    table's bloom columns, so ``lookup_by_attr`` point-probes read only
    the buckets whose per-bucket bloom sidecars admit the value —
    secondary-attribute data skipping on a table whose BUCKET hashing
    only serves the rowkey."""

    def __init__(self, root: str, bloom_attrs: dict[str, list[str]] | None = None):
        self.root = root
        self.bloom_attrs = dict(bloom_attrs or {})
        # pruning observability of the latest lookup_by_attr:
        # {buckets_total, buckets_scanned}
        self.last_attr_scan: dict | None = None
        os.makedirs(root, exist_ok=True)

    def table_path(self, sink_table: str) -> str:
        return os.path.join(self.root, sink_table)

    def apply_ddl(self, config_ops: list) -> None:
        """K5 — dynamic DDL from config ops (DimAPP.java:137-162):
        c/r → ensure exists, d → drop, u → drop + recreate."""
        for row in config_ops:
            path = self.table_path(row["sink_table"])
            op = row["op"]
            if op in ("d", "u") and os.path.exists(path):
                shutil.rmtree(path)
            if op in ("c", "r", "u"):
                os.makedirs(path, exist_ok=True)

    def merge_dim_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        sink_table: str,
        row_key: str,
    ) -> None:
        """K4 — per-record upsert/delete resolved by CDC type
        (DimHBaseSinkFunction.java:42-51: 'delete' deletes, everything else
        — insert/update/bootstrap-insert — puts)."""
        attrs = self.bloom_attrs.get(sink_table, [])
        table = KeyedTable(self.table_path(sink_table), keys=[row_key],
                           version_col="ts", bloom_cols=attrs or None)
        # a null rowkey is undeliverable (HBase put requires one — the
        # reference would fail the put, DimHBaseSinkFunction.java:56)
        batch = batch.filter(F.col(row_key).isNotNull())
        # secondary probe attributes become real (string) columns so the
        # commit can build their per-bucket bloom sidecars — map values
        # are not bloomable, promoted scalars are
        for a in attrs:
            batch = batch.withColumn(a, F.element_at("data", a))
        # The reference applies puts/deletes in stream order per record
        # (DimHBaseSinkFunction.java:42-51): a delete followed by a
        # re-insert of the same key must leave the row present.  Resolve to
        # each key's LATEST event (ts, then arrival order within the
        # batch), then apply that one event's action.
        from pyspark.sql.window import Window

        latest = (
            batch.withColumn("__seq", F.monotonically_increasing_id())
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(row_key).orderBy(
                        F.col("ts").desc(), F.col("__seq").desc()
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__seq")
        ).persist()
        try:
            upserts = latest.filter(F.col("type") != "delete")
            deletes = latest.filter(F.col("type") == "delete")
            # merge() owns emptiness: an empty `deletes` adds no bucket
            # to its touched-bucket probe, and an empty batch commits
            # nothing
            table.merge(spark, upserts, deletes=deletes)
        finally:
            latest.unpersist()

    def read_dim(self, spark: SparkSession, sink_table: str) -> DataFrame | None:
        return KeyedTable(self.table_path(sink_table), keys=[]).read(spark)

    def get_row_of(
        self, spark: SparkSession, sink_table: str, row_key: str, value
    ):
        """HBase point-GET parity (HBaseUtil.java:151-185 getRowOf): fetch
        ONE dim row by rowkey via bucket pruning — the lookup hashes the
        literal key with the writer's own bucket expression and reads a
        single bucket directory, never the table.  Returns the Row or
        None — the serving shape a lookup-join cache miss takes."""
        table = KeyedTable(self.table_path(sink_table), keys=[row_key])
        df = table.lookup(spark, [value])
        rows = df.limit(1).collect() if df is not None else []
        return rows[0] if rows else None

    def lookup_by_attr(
        self, spark: SparkSession, sink_table: str, attr: str, value
    ) -> DataFrame | None:
        """Probe a dim table by a SECONDARY attribute (not the rowkey)
        with bloom data skipping: reads only the buckets whose
        ``_bloom_{attr}.json`` sidecars admit the probe — the rowkey
        bucket hash cannot prune this shape, the blooms can.  ``value``
        is a scalar (point probe, ``read_eq``) or a list/tuple/set (the
        DWS batch-fetch shape — "all skus of these N spus" — routed
        through ``read_in``, which keeps a bucket when its bloom admits
        ANY of the values).  The logical filter always applies on top,
        so bloom false positives cost reads, never correctness.
        ``self.last_attr_scan`` records {buckets_total, buckets_scanned}
        for the plan gate / dashboards; tables merged without
        ``bloom_attrs`` fall back to a full scan + filter (correct,
        zero pruning)."""
        table = KeyedTable(self.table_path(sink_table), keys=[])
        multi = isinstance(value, (list, tuple, set, frozenset))
        if attr in table.bloom_cols:
            if multi:
                df = table.read_in(spark, attr, list(value))
            else:
                df = table.read_eq(spark, attr, value)
            self.last_attr_scan = table.last_eq_scan
        else:
            df = table.read(spark)
            if df is not None:
                # never promoted to a column: probe the payload map
                probe = (F.col(attr) if attr in df.columns
                         else F.element_at("data", attr))
                df = df.filter(probe.isin(list(value)) if multi
                               else probe == F.lit(value))
            self.last_attr_scan = None
        return df
