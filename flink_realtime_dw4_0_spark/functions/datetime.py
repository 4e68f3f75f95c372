"""Scalar datetime surface (SURVEY §2.8 X1-X7, X11-X12).

Parity with ``DateFormatUtil.java`` — the reference converts between epoch
millis and string dates with a hardcoded UTC+8 zone
(``DateFormatUtil.java:28-68``).  In Spark the zone comes from
``spark.sql.session.timeZone`` (set to Asia/Shanghai by the pipeline
session, UTC by the harness session), so these wrappers are zone-correct by
construction and run JVM-side (whole-stage codegen) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DATE_FMT = "yyyy-MM-dd"
DATETIME_FMT = "yyyy-MM-dd HH:mm:ss"
PARTITION_FMT = "yyyyMMdd"

DAY_MS = 24 * 60 * 60 * 1000


def ts_to_date(col: Column | str) -> Column:
    """epoch millis → 'yyyy-MM-dd' (X2, DateFormatUtil.java:38-42)."""
    return F.date_format(F.timestamp_millis(col), DATE_FMT)


def ts_to_datetime(col: Column | str) -> Column:
    """epoch millis → 'yyyy-MM-dd HH:mm:ss' (X3, DateFormatUtil.java:49-53)."""
    return F.date_format(F.timestamp_millis(col), DATETIME_FMT)


def ts_to_partition(col: Column | str) -> Column:
    """epoch millis → 'yyyyMMdd' partition key (X4, DateFormatUtil.java:55-59)."""
    return F.date_format(F.timestamp_millis(col), PARTITION_FMT)


def ts_seconds_to_timestamp(col: Column | str) -> Column:
    """epoch seconds → timestamp — the `ts*1000` re-source quirk (X6,
    DwdTradeOrderPaySucDetail.java:169)."""
    return F.timestamp_millis(F.col(col) * 1000 if isinstance(col, str) else col * 1000)


def ts_millis_to_timestamp(col: Column | str) -> Column:
    """epoch millis → timestamp (X6, SQLUtil.java:36)."""
    return F.timestamp_millis(col)


def proc_time() -> Column:
    """PROCTIME() approximation: micro-batch wall clock (X7, SQLUtil.java:35)."""
    return F.current_timestamp()


def yesterday_ts(ts_col: Column | str) -> Column:
    """epoch millis minus one day — the is_new backfill (X11, DwdBaseLog.java:171)."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return c - F.lit(DAY_MS)
