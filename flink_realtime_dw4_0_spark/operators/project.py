"""Projection / scalar expression operators (SURVEY §2.3 P3-P7; the P1
map and P2 struct access are plain Column expressions where used).

Everything here is a thin, named composition of built-in Column
expressions — fully inside whole-stage codegen, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def route_filter(df: DataFrame, **eq: str) -> DataFrame:
    """P3 — conjunction of equality predicates routing one stream to a
    logical table (DwdTradeCartAdd.java:79-81)."""
    cond = F.lit(True)
    for c, v in eq.items():
        cond = cond & (F.col(c) == v)
    return df.filter(cond)


def updated_field(df_old_col: Column, key: str) -> Column:
    """P4 — `old['x'] IS NOT NULL` update detection (DwdTradeCartAdd.java:85)."""
    return df_old_col.getItem(key).isNotNull()


def cart_add_delta(data_num: Column, old_num: Column, typ: Column) -> Column:
    """P5+P6 — the incremental cart-add quantity (DwdTradeCartAdd.java:68):
    ``if(type='insert', data.sku_num, cast(data.sku_num - old.sku_num))``.
    """
    new = data_num.cast("long")
    old = old_num.cast("long")
    return F.when(typ == "insert", new).otherwise(new - old)
