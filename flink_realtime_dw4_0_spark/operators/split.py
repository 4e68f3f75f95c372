"""Stream splitting / fan-out / flatten (SURVEY §2.7 F1-F3)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The five log routes of DwdBaseLog (side-output tags, DwdBaseLog.java:57-67).
LOG_ROUTES = ("err", "start", "display", "action", "page")


def split_log(df: DataFrame) -> dict[str, DataFrame]:
    """F1 — the 5-way split as N filtered scans of one (cached) batch.

    Spark has no side outputs; in ``foreachBatch`` the caller persists the
    micro-batch then applies these filters (SURVEY §2.7 F1 mapping).
    """
    err = df.filter(F.col("err").isNotNull()).select("common", "err", "ts")
    base = df.withColumn("err", F.lit(None).cast(df.schema["err"].dataType))
    start = base.filter(F.col("start").isNotNull()).select("common", "start", "ts")
    page_logs = base.filter(F.col("start").isNull())
    display = explode_enrich(page_logs, "displays", "display")
    action = explode_enrich(page_logs, "actions", "action")
    page = page_logs.select("common", "page", "ts")
    return {"err": err, "start": start, "display": display, "action": action, "page": page}


def explode_enrich(df: DataFrame, array_col: str, out_name: str) -> DataFrame:
    """F2 — emit each array element as its own record enriched with the
    parent common/page/ts (DwdBaseLog.java:98-121)."""
    return df.filter(F.col(array_col).isNotNull()).select(
        "common", "page", "ts", F.explode(array_col).alias(out_name)
    )


def explode_computed(
    df: DataFrame, keep: list[str | Column], arr: Column | str, alias: str
) -> DataFrame:
    """Explode a COMPUTED array column without Catalyst's
    InferFiltersFromGenerate pathology.

    For ``explode(expr)`` Catalyst infers ``size(expr) > 0 AND
    isnotnull(expr)`` and pushes it toward the scan, substituting the full
    expression into the predicate — so an expensive array (tokenize +
    shingle, md5 band buckets, hyperplane signatures) is computed three
    times per row, and the pushed copy can land *below* the repartition
    that was meant to spread the work, serializing it on the source's
    (often single-file) partitioning.  ``explode_outer`` triggers no such
    inference; the null rows it keeps for empty arrays are removed by a
    trivial post-filter on the OUTPUT attribute.  Measured 12x on the
    sf0.1 shingle inverted index.

    Caveat: the post-filter also drops genuine NULL *elements* — every
    array built in this engine has non-null elements.
    """
    out = df.select(*keep, F.explode_outer(arr).alias(alias))
    return out.filter(F.col(alias).isNotNull())
