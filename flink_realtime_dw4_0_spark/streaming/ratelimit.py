"""Per-key event-time rate limiting — the ingestion-guard primitive a
crawl/CDC intake runs in front of expensive curation: admit at most
``cap`` events per key per tumbling event-time window, tag the rest
``admitted = 0`` (audit stream, not silent drop).

Implementation note: ``applyInPandasWithState`` runs the
window→count transition (``_admit_batch``) with the map packed into
two parallel array columns, and windows older than the newest-seen
window minus ``keep_windows`` retire inline (the bounded-state
contract a TTL would give).

Semantics are deterministic per arrival order within (key, window):
events are processed in (ts, event_id) order inside each micro-batch,
and the first ``cap`` of a window are admitted.  The batch twin
(`rate_limit_admit` in the catalog) is a plain
``row_number() OVER (PARTITION BY key, window ORDER BY ts, event_id)
<= cap`` — oracle-exact — and the streaming golden checks the
cross-batch continuation (a window's count survives micro-batch
boundaries).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("ts", LongType()),
        StructField("event_id", LongType()),
        StructField("win_start", LongType()),
        StructField("admitted", IntegerType()),
    ]
)

# window→count map as two parallel arrays (applyInPandasWithState state
# rows are flat structs; arrays keep it one row per key)
_STATE = StructType(
    [
        StructField("wins", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


def _admit_batch(k, local, pdfs, cap, window_ms, keep_windows):
    """THE rate-limit state transition: fold one micro-batch's events
    (in (ts, event_id) order) through the window→count map, returning
    (output pdf or None, packed (wins, counts) state tuple).  Windows
    older than the newest keep_windows retire inline — bounded state."""
    batch = [pdf[["ts", "event_id"]] for pdf in pdfs]
    if not batch:
        ws = sorted(local)
        return None, (ws, [local[w] for w in ws])
    ev = (
        pd.concat(batch, ignore_index=True)
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)  # fresh index: mixing sorted Series
        # with new lists below must not realign on the old positions
    )
    wins_col = ((ev["ts"] // window_ms) * window_ms).astype("int64")
    out_adm = []
    for w in wins_col:
        w = int(w)
        n = local.get(w, 0)
        admitted = n < cap
        if admitted:
            local[w] = n + 1
        out_adm.append(1 if admitted else 0)
    # retire windows older than the newest keep_windows — bounded state
    if len(local) > keep_windows:
        horizon = max(local) - keep_windows * window_ms
        local = {w: n for w, n in local.items() if w >= horizon}
    ws = sorted(local)
    out = pd.DataFrame(
        {
            "key": [k] * len(ev),
            "ts": ev["ts"].astype("int64"),
            "event_id": ev["event_id"].astype("int64"),
            "win_start": wins_col,
            "admitted": out_adm,
        }
    )
    return out, (ws, [local[w] for w in ws])


def rate_limit_fn(cap: int, window_ms: int, keep_windows: int = 8):
    """Build the keyed state function: admit the first `cap` events per
    (key, tumbling window); state holds the last `keep_windows` windows'
    counts (older windows can no longer admit differently — any event
    mapping there would have been late beyond the watermark anyway)."""

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            state.remove()
            return
        if state.exists:
            wins, counts = state.get
            local = dict(zip(wins, counts))
        else:
            local = {}
        out, packed = _admit_batch(
            key[0], local, pdfs, cap, window_ms, keep_windows
        )
        if out is None:
            return
        state.update(packed)
        yield out

    return fn


def rate_limit_stream(
    events: DataFrame,
    cap: int,
    window: str = "1 minute",
    key: str = "user_id",
    ts: str = "ts",
    event_id: str = "event_id",
    watermark: str = "10 seconds",
    keep_windows: int = 8,
) -> DataFrame:
    """Apply the per-key rate limit to a stream with millisecond `ts`.
    Returns every event tagged admitted 0/1 plus its window start."""
    import re

    m = re.match(r"(\d+)\s*(second|minute|hour)s?", window)
    if not m:
        raise ValueError(f"window must look like '1 minute', got {window!r}")
    unit = {"second": 1000, "minute": 60_000, "hour": 3_600_000}
    window_ms = int(m.group(1)) * unit[m.group(2)]

    src = events
    if "row_time" not in src.columns:
        src = src.withColumn("row_time", F.timestamp_millis(F.col(ts).cast("long")))
    src = src.withWatermark("row_time", watermark).select(
        F.col(key).cast("string").alias("key"),
        F.col(ts).cast("long").alias("ts"),
        F.col(event_id).cast("long").alias("event_id"),
        "row_time",
    )
    return src.groupBy("key").applyInPandasWithState(
        rate_limit_fn(cap, window_ms, keep_windows),
        outputStructType=OUT_SCHEMA,
        stateStructType=_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rate_limit_batch(
    events: DataFrame,
    cap: int,
    window_ms: int,
    key: str = "user_id",
    ts: str = "ts",
    event_id: str = "event_id",
) -> DataFrame:
    """Batch twin: identical admitted flags for any arrival order that
    respects (ts, event_id) — one window shuffle on (key, window)."""
    from pyspark.sql.window import Window as W

    canon = events.select(
        F.col(key).cast("string").alias("key"),
        F.col(ts).cast("long").alias("ts"),
        F.col(event_id).cast("long").alias("event_id"),
    ).withColumn(
        "win_start", F.floor(F.col("ts") / window_ms).cast("long") * window_ms
    )
    o = W.partitionBy("key", "win_start").orderBy("ts", "event_id")
    return canon.withColumn("admitted", (F.row_number().over(o) <= cap).cast("int"))
