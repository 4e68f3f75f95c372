"""Streaming CEP: keyed sequence matching with an event-time timeout —
the Flink ``Pattern.begin(..).followedBy(..).within(T)`` surface
(including the timed-out-partial-match side output Flink exposes via
``PatternTimeoutFunction``), expressed Spark-first.

Design: the per-step predicates are evaluated DECLARATIVELY before the
stateful operator — each event carries a ``step_mask`` bit per satisfied
predicate, computed as JVM column expressions — so the
``applyInPandasWithState`` function is pure control flow over
(ts, event_id, mask) triplets.  The state machine binds each step to the
minimum event time strictly greater than the previous bound (the same
relaxed-contiguity semantics as ``operators.cep.match_sequence``, whose
batch twin is oracle-exact), and an ``EventTimeTimeout`` timer emits a
``status='timeout'`` row when the watermark passes an incomplete match's
window — so downstream sees every anchor resolve exactly once, as a
match or a timeout.

Out-of-order correctness (Flink NFA parity): Flink's CEP effectively
orders events by event time before matching — a cross-batch event that
arrives late (but within the watermark) and belongs *between* already-
seen events must still bind in its event-time position.  The matcher
therefore never binds an event on arrival; it BUFFERS (ts, event_id,
mask) triplets in keyed state and only feeds an event to the state
machine once the watermark has passed its timestamp (the event is
"sealed": nothing earlier can still arrive).  Sealed events are bound in
(ts, event_id) order, so the sequence the machine consumes is globally
event-time ordered regardless of arrival order, and equal-timestamp
events tie-break on the stable ``event_id`` — deterministic across runs
and partitionings, like ``ratelimit`` and the batch twin.  Events older
than the watermark at arrival are dropped (standard late-data contract).
State is bounded: the buffer holds only events inside the watermark
delay (plus the current batch), and the machine itself is k longs.

The seal frontier is driven by the same ``EventTimeTimeout`` timer as
the timeout path: whenever the buffer is non-empty the timer is armed at
the earliest buffered timestamp (clamped above the current watermark),
so a quiet key still drains its buffer as the global watermark advances.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _out_schema() -> StructType:
    return StructType(
        [
            StructField("key", StringType()),
            StructField("status", StringType()),  # 'match' | 'timeout'
            StructField("anchor_ts", LongType()),
            StructField("step_ts", ArrayType(LongType())),
        ]
    )


# state:
#   packed — machine progress: [i, t0, t1, ... t_{i-1}] (next step i)
#   buf    — unsealed events, interleaved [ts, event_id, mask, ...]
_STATE = StructType(
    [
        StructField("packed", ArrayType(LongType())),
        StructField("buf", ArrayType(LongType())),
    ]
)


def sequence_matcher_fn(n_steps: int, within_ms: int):
    """Build the keyed state function: buffers events until the watermark
    seals them, then binds steps 0..n_steps-1 in event-time order; emits
    one row per resolved anchor."""

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        k = key[0]
        wm = state.getCurrentWatermarkMs()

        if state.exists:
            packed, buf = state.get
            prog = int(packed[0])
            bound = [int(t) for t in packed[1:]]
            buffer = [
                (int(buf[i]), int(buf[i + 1]), int(buf[i + 2]))
                for i in range(0, len(buf), 3)
            ]
        else:
            prog, bound, buffer = 0, [], []

        if not state.hasTimedOut:
            for pdf in pdfs:
                for ts, eid, mask in zip(
                    pdf["ts"].astype("int64"),
                    pdf["event_id"].astype("int64"),
                    pdf["step_mask"].astype("int64"),
                ):
                    if int(ts) > wm:  # on time — buffer until sealed
                        buffer.append((int(ts), int(eid), int(mask)))
                    # else: late beyond the watermark — dropped, like Flink

        buffer.sort()  # (ts, event_id, mask): deterministic event-time order
        sealed = [e for e in buffer if e[0] <= wm]
        buffer = [e for e in buffer if e[0] > wm]

        out_key, out_status, out_anchor, out_steps = [], [], [], []

        def resolve(status: str) -> None:
            out_key.append(k)
            out_status.append(status)
            out_anchor.append(bound[0])
            out_steps.append(list(bound))

        for ts, _eid, mask in sealed:
            # expire the pending anchor inline if this event is past its
            # window (the timer covers the quiet case)
            if bound and ts > bound[0] + within_ms and prog < n_steps:
                resolve("timeout")
                prog, bound = 0, []
            if prog == 0:
                if mask & 1:
                    prog, bound = 1, [ts]
            elif prog < n_steps:
                if (mask >> prog) & 1 and ts > bound[-1]:
                    bound.append(ts)
                    prog += 1
            if prog == n_steps:
                if bound[-1] - bound[0] <= within_ms:
                    resolve("match")
                prog, bound = 0, []

        # the watermark itself can expire a pending anchor with no sealed
        # event past the window (the timer-fire path)
        if prog > 0 and wm > bound[0] + within_ms:
            resolve("timeout")
            prog, bound = 0, []

        if prog > 0 or buffer:
            flat = [x for e in buffer for x in e]
            state.update(([prog] + bound, flat))
            deadlines = []
            if prog > 0:
                deadlines.append(bound[0] + within_ms + 1)
            if buffer:
                deadlines.append(buffer[0][0])  # earliest unsealed ts
            state.setTimeoutTimestamp(max(min(deadlines), wm + 1))
        elif state.exists:
            state.remove()
        if out_key:
            yield pd.DataFrame(
                {
                    "key": out_key,
                    "status": out_status,
                    "anchor_ts": out_anchor,
                    "step_ts": out_steps,
                }
            )

    return fn


def match_sequence_stream(
    events: DataFrame,
    steps: list,
    *,
    within: str = "15 minutes",
    key: str = "user_id",
    ts: str = "ts",
    watermark: str = "10 seconds",
    event_id: str | None = None,
) -> DataFrame:
    """Streaming sequence matcher over a watermarked event stream.

    ``events`` must carry an event-time TIMESTAMP column ``row_time``
    (or it is derived from a millisecond ``ts``); ``steps`` is the same
    ``[(name, predicate Column), ...]`` list the batch matcher takes.
    ``event_id`` names a stable long column used to tie-break equal
    timestamps deterministically; when absent a stable 64-bit hash of
    the row's (key, ts, mask) stands in.  Returns a stream of
    (key, status, anchor_ts, step_ts).
    """
    from ..operators.cep import parse_within_ms

    within_ms = parse_within_ms(within)  # shared with the batch matcher

    mask = F.lit(0).cast("long")
    for i, (_, pred) in enumerate(steps):
        mask = mask + F.when(pred, F.lit(1 << i)).otherwise(0)
    src = events
    if "row_time" not in src.columns:
        src = src.withColumn("row_time", F.timestamp_millis(F.col(ts).cast("long")))
    eid_col = (
        F.col(event_id).cast("long")
        if event_id is not None
        else F.xxhash64(F.col(key).cast("string"), F.col(ts).cast("long"), mask)
    )
    src = (
        src.withWatermark("row_time", watermark)
        .select(
            F.col(key).cast("string").alias("key"),
            F.col(ts).cast("long").alias("ts"),
            eid_col.alias("event_id"),
            mask.alias("step_mask"),
            "row_time",
        )
        .filter(F.col("step_mask") != 0)  # non-participating events drop early
    )
    return src.groupBy("key").applyInPandasWithState(
        sequence_matcher_fn(len(steps), within_ms),
        outputStructType=_out_schema(),
        stateStructType=_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
