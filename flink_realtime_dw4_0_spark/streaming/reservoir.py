"""Streaming reservoir sampling — the unbounded-intake twin of
``operators.sampling.reservoir_sample``: per key, maintain the SAME
deterministic-hash Algorithm-R reservoir (replacement index =
``md5('{salt}:{key}:{id}')[:15] % n``) in keyed state, and emit a
CHANGELOG row ``(key, slot, ts, event_id)`` whenever a slot's occupant
changes — downstream keeps the latest row per (key, slot), which
converges to exactly the batch operator's output on the same event
set (golden-pinned; the batch/oracle twin is ``sample_reservoir``).

Ordering contract (same as ``streaming/ratelimit.py``): events are
folded in (ts, event_id) order WITHIN each micro-batch; the reservoir
equals the batch twin whenever arrival respects event-time order
across micro-batches (the file-source goldens' shape).  State is O(k)
longs per key — count + the slot arrays — so a million-key intake
carries k+1 longs each, and nothing ever rescans history.
"""

from __future__ import annotations

import hashlib
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

# weights ride the long-array state; a float/decimal weight would be
# silently truncated and quietly diverge from the batch twin (which
# folds the double) — fail loud instead, like KeyedTable._check_bloom_dtype
_INTEGRAL_WEIGHT_TYPES = {"byte", "short", "integer", "long"}


def _check_weight_dtype(col: str, type_name: str) -> None:
    if type_name not in _INTEGRAL_WEIGHT_TYPES:
        raise ValueError(
            f"weight column {col!r} has type {type_name!r}: the streaming "
            "weighted reservoir carries integer weights only (they ride "
            "the long-array keyed state); cast explicitly or use the "
            "batch weighted_reservoir for fractional weights"
        )


OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("slot", IntegerType()),
        StructField("ts", LongType()),
        StructField("event_id", LongType()),
    ]
)

_STATE = StructType(
    [
        StructField("count", LongType()),
        StructField("slot_ts", ArrayType(LongType())),
        StructField("slot_id", ArrayType(LongType())),
    ]
)


def reservoir_fn(k: int, salt: str):
    """Keyed state function: fold the batch's events (in (ts, event_id)
    order) through the hash-draw replacement chain; emit each slot that
    changed this invocation (latest occupant only — a changelog)."""

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        kk = key[0]
        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            state.remove()
            return
        if state.exists:
            cnt, s_ts, s_id = state.get
            cnt = int(cnt)
            slots = [(int(t), int(i)) for t, i in zip(s_ts, s_id)]
        else:
            cnt, slots = 0, []
        batch = [pdf[["ts", "event_id"]] for pdf in pdfs]
        if not batch:
            return
        ev = (
            pd.concat(batch, ignore_index=True)
            .sort_values(["ts", "event_id"])
            .reset_index(drop=True)
        )
        changed: set[int] = set()
        for ts_v, id_v in zip(ev["ts"].astype("int64"),
                              ev["event_id"].astype("int64")):
            cnt += 1
            if cnt <= k:
                slots.append((int(ts_v), int(id_v)))
                changed.add(len(slots) - 1)
            else:
                h = int(hashlib.md5(
                    f"{salt}:{kk}:{int(id_v)}".encode()
                ).hexdigest()[:15], 16)
                j = h % cnt
                if j < k:
                    slots[j] = (int(ts_v), int(id_v))
                    changed.add(j)
        state.update((
            cnt, [t for t, _ in slots], [i for _, i in slots],
        ))
        if changed:
            sl = sorted(changed)
            yield pd.DataFrame(
                {
                    "key": [kk] * len(sl),
                    "slot": sl,
                    "ts": [slots[j][0] for j in sl],
                    "event_id": [slots[j][1] for j in sl],
                }
            )

    return fn


W_OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("op", StringType()),  # 'upsert' | 'evict'
        StructField("id", LongType()),
        StructField("weight", LongType()),
    ]
)

# per-key weighted reservoir state: parallel arrays of member ids,
# integer weights, and the A-Res sort key as IEEE-754 bits
_W_STATE = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("ws", ArrayType(LongType())),
        StructField("sk_bits", ArrayType(LongType())),
    ]
)


def _wres_key(salt: str, id_v: int, w: float) -> float:
    """Efraimidis–Spirakis sort key u^(1/w) with the portable md5
    uniform — the SAME formula as the batch ``weighted_reservoir``, so
    stream membership converges to the batch top-k."""
    if w <= 0:
        return 0.0
    u = int(hashlib.md5(
        f"{salt}:{id_v}".encode()
    ).hexdigest()[:15], 16) / float(1 << 60)
    return u ** (1.0 / w)


def weighted_reservoir_fn(k: int, salt: str):
    """Keyed state function: maintain the per-key top-k by A-Res key;
    emit a membership CHANGELOG — 'upsert' rows for members that
    entered this invocation, 'evict' rows for members they displaced.
    Downstream applies upserts minus evicts; the surviving set equals
    the batch ``weighted_reservoir`` membership on the same rows."""
    import struct as _struct

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        kk = key[0]
        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            state.remove()
            return
        if state.exists:
            ids, ws, skb = state.get
            members = [
                (int(i), int(w),
                 _struct.unpack("<d", _struct.pack("<q", int(b)))[0])
                for i, w, b in zip(ids, ws, skb)
            ]
        else:
            members = []
        batch = [pdf[["event_id", "weight"]] for pdf in pdfs]
        if not batch:
            return
        ev = pd.concat(batch, ignore_index=True)
        rows: list[tuple[str, int, int]] = []
        present = {m[0] for m in members}
        for id_v, w_v in zip(ev["event_id"].astype("int64"),
                             ev["weight"].astype("int64")):
            id_v, w_v = int(id_v), int(w_v)
            if id_v in present:
                continue  # ids are unique members; repeats no-op
            sk = _wres_key(salt, id_v, float(w_v))
            if sk <= 0.0:
                continue
            if len(members) < k:
                members.append((id_v, w_v, sk))
                present.add(id_v)
                rows.append(("upsert", id_v, w_v))
            else:
                jmin = min(range(len(members)),
                           key=lambda j: (members[j][2], -members[j][0]))
                if sk > members[jmin][2]:
                    old = members[jmin]
                    members[jmin] = (id_v, w_v, sk)
                    present.discard(old[0])
                    present.add(id_v)
                    rows.append(("evict", old[0], old[1]))
                    rows.append(("upsert", id_v, w_v))
        state.update((
            [m[0] for m in members],
            [m[1] for m in members],
            [_struct.unpack("<q", _struct.pack("<d", m[2]))[0]
             for m in members],
        ))
        if rows:
            yield pd.DataFrame(
                {
                    "key": [kk] * len(rows),
                    "op": [r[0] for r in rows],
                    "id": [r[1] for r in rows],
                    "weight": [r[2] for r in rows],
                }
            )

    return fn


def weighted_reservoir_stream(
    events: DataFrame,
    k: int,
    key: str = "source",
    id_col: str = "doc_id",
    weight_col: str = "w",
    salt: str = "wres",
    ts: str = "ts",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming Efraimidis–Spirakis A-Res: per key, the running
    weight-proportional k-sample of everything seen so far, as a
    membership changelog (op='upsert'/'evict').  Apply upserts minus
    evicts downstream; that set equals the batch ``weighted_reservoir``
    of the same rows (golden-pinned) — ORDER-INDEPENDENT, unlike the
    unweighted reservoir, because top-k-by-key is a pure function of
    the row set.  Integer weights only, validated loud (they ride the
    long-array state); duplicate ids no-op."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _check_weight_dtype(
        weight_col, events.schema[weight_col].dataType.typeName()
    )
    src = events
    if "row_time" not in src.columns:
        src = src.withColumn(
            "row_time", F.timestamp_millis(F.col(ts).cast("long"))
        )
    src = src.withWatermark("row_time", watermark).select(
        F.col(key).cast("string").alias("key"),
        F.col(id_col).cast("long").alias("event_id"),
        F.col(weight_col).cast("long").alias("weight"),
        "row_time",
    )
    return src.groupBy("key").applyInPandasWithState(
        weighted_reservoir_fn(k, salt),
        outputStructType=W_OUT_SCHEMA,
        stateStructType=_W_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def reservoir_sample_stream(
    events: DataFrame,
    k: int,
    key: str = "user_id",
    ts: str = "ts",
    event_id: str = "event_id",
    salt: str = "res",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Apply the per-key deterministic reservoir to a stream with
    millisecond ``ts``.  Returns the slot CHANGELOG — keep the latest
    row per (key, slot) downstream; that set equals the batch
    ``reservoir_sample`` of the same events."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    src = events
    if "row_time" not in src.columns:
        src = src.withColumn(
            "row_time", F.timestamp_millis(F.col(ts).cast("long"))
        )
    src = src.withWatermark("row_time", watermark).select(
        F.col(key).cast("string").alias("key"),
        F.col(ts).cast("long").alias("ts"),
        F.col(event_id).cast("long").alias("event_id"),
        "row_time",
    )
    return src.groupBy("key").applyInPandasWithState(
        reservoir_fn(k, salt),
        outputStructType=OUT_SCHEMA,
        stateStructType=_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
