"""Serving-table sink — the Doris-sink equivalent (SURVEY §2.2 K7).

The reference planned DWS aggregates → Doris via the flink-doris-connector
(pom.xml:190-195, FE/db constants at Constant.java:34-37).  Here a serving
table is a KeyedTable MERGEd per micro-batch: window rows keyed by
(window_start, dims) converge under replays exactly like a Doris
aggregate-model table.  On a real deployment the same foreachBatch body
writes JDBC to Doris/StarRocks or MERGEs into Delta/Iceberg.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .upsert import KeyedTable


def serving_foreach_batch(
    *routes: KeyedTable | tuple[KeyedTable, Callable[[DataFrame], DataFrame]],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: MERGE the micro-batch's (re)computed summary
    rows into serving tables by window/dim key.

    A route is a table, which takes the whole batch, or a
    ``(table, rows)`` pair, whose ``rows(batch)`` picks and shapes that
    table's share — so one window query can feed several serving tables.

    The batch is persisted so the window step's plan that computed it
    (a read of the open-window partials) runs once: on an
    existing table merge() reads it twice (touched-bucket probe, then the
    write; a first merge reads it once, in the write), and an empty batch
    commits nothing, so no probe of its own is needed."""
    pairs = [r if isinstance(r, tuple) else (r, lambda b: b) for r in routes]

    def fn(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for table, rows in pairs:
                table.merge(batch.sparkSession, rows(batch))
        finally:
            batch.unpersist()

    return fn


# Spark SQL type name → embedded-DB (DuckDB) column type for the serving DDL
_SQL_TYPES = {
    "string": "VARCHAR",
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


def _ddl_type(spark_type: str) -> str:
    if spark_type.startswith("decimal"):
        return spark_type.upper()
    try:
        return _SQL_TYPES[spark_type]
    except KeyError:
        raise ValueError(f"unsupported serving column type: {spark_type}") from None


def serving_db_foreach_batch(
    db_path: str,
    table_name: str,
    keys: list[str],
    max_rows_per_batch: int = 1_000_000,
) -> Callable[[DataFrame, int], None]:
    """K7 with a real SQL database: per micro-batch keyed upsert via
    ``INSERT ... ON CONFLICT (keys) DO UPDATE`` — the semantics of a Doris
    unique-key-model table fed by stream load (flink-doris-connector,
    pom.xml:190-195; FE/db constants Constant.java:34-37).

    The embedded engine is DuckDB (what this container ships); the SQL is
    ANSI upsert, so a production deployment swaps the connection for
    Doris/StarRocks/Postgres JDBC and keeps the statement.  Rows reach the
    driver via Arrow before the INSERT — correct for serving tables, whose
    content is post-aggregation (bounded by windows × dims, not by input
    volume); a high-fanout sink would instead stream-load per partition.

    Idempotent under foreachBatch replay: re-delivered rows hit the same
    primary keys and converge to the same final table.

    `max_rows_per_batch` enforces that contract: serving rows are
    post-aggregation and driver-bounded by design, so a batch exceeding
    the cap means the sink was pointed at a fact stream by mistake — it
    fails loudly BEFORE `toPandas()` can OOM the driver (route fact-scale
    output through a distributed sink instead).
    """
    import duckdb

    def fn(batch: DataFrame, batch_id: int) -> None:
        # limit(cap+1) bounds the driver transfer BEFORE collection, so
        # the guard costs zero extra Spark jobs on the healthy path and a
        # fact-scale batch still fails before it can OOM the driver
        pdf = batch.dropDuplicates(keys).limit(max_rows_per_batch + 1).toPandas()
        if len(pdf) > max_rows_per_batch:
            raise ValueError(
                f"serving sink batch exceeds max_rows_per_batch="
                f"{max_rows_per_batch}: serving tables hold post-aggregation "
                "rows (windows x dims); a fact-scale stream must use a "
                "distributed sink, not a driver-side upsert"
            )
        if pdf.empty:
            return
        cols = [(f.name, _ddl_type(f.dataType.simpleString())) for f in batch.schema.fields]
        non_keys = [c for c, _ in cols if c not in keys]
        con = duckdb.connect(db_path)
        try:
            col_ddl = ", ".join(f'"{c}" {t}' for c, t in cols)
            pk = ", ".join(f'"{k}"' for k in keys)
            con.execute(
                f'CREATE TABLE IF NOT EXISTS "{table_name}" ({col_ddl}, PRIMARY KEY ({pk}))'
            )
            con.register("_batch_df", pdf)
            collist = ", ".join(f'"{c}"' for c, _ in cols)
            if non_keys:
                action = "DO UPDATE SET " + ", ".join(
                    f'"{c}" = excluded."{c}"' for c in non_keys
                )
            else:
                action = "DO NOTHING"
            con.execute(
                f'INSERT INTO "{table_name}" ({collist}) '
                f"SELECT {collist} FROM _batch_df ON CONFLICT ({pk}) {action}"
            )
        finally:
            con.close()

    return fn
