"""Keyed-state streaming operators (SURVEY §2.6 T1 + first-seen dedup).

Parity: the new-visitor fix KeyedProcessFunction (DwdBaseLog.java:135-183)
and the per-day first-seen dedup that backs the DWS UU tables (A3/A4/A6).

Spark-native: ``applyInPandasWithState`` keyed by device id — Arrow-batched
per group, state in the RocksDB store (scales past heap, unlike the
reference's HashMap backend, BaseAPP.java:42).  Records are applied in
event-time order within each batch, reproducing the reference's per-record
sequencing.

Each operator also has a ``*_batch`` twin for ``foreachBatch``: the same
decision as a per-micro-batch set operation against a ``KeyedTable``, with
no per-group Python and no state store (the warehouse runs these).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)
from pyspark.sql.window import Window

_VISITOR_OUT = StructType(
    [
        StructField("mid", StringType()),
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("is_new", StringType()),
        StructField("first_login_dt", StringType()),
    ]
)
_VISITOR_STATE = StructType([StructField("first_login_dt", StringType())])


def visitor_fix_fn(
    key: tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """The exact decision table of DwdBaseLog.java:147-181:

    is_new='1':  state empty        → remember today (stays 1)
                 state = today      → stays 1 (same-day repeat)
                 state ≠ today      → rewrite to '0' (returning visitor)
    is_new='0':  state empty        → backfill yesterday (:171)
                 state set          → unchanged
    other:       dirty marker — passed through, state untouched (:176-178)

    Vectorized: per key, first_login_dt changes at most ONCE (set by the
    earliest valid record when state is empty, immutable after), so the
    sequential walk collapses to locating that record and masking — no
    per-row Python on the hottest stream.  Day strings arrive in the
    `dt` column, computed JVM-side in the session timezone by
    `visitor_fix` (matching the reference's fixed-zone DateFormatUtil and
    the batch twin `visitor_fix_batch`).
    """
    first_dt = state.get[0] if state.exists else None
    for pdf in pdfs:
        out, first_dt = _visitor_apply(first_dt, pdf)
        yield out
    state.update((first_dt,))


def _visitor_apply(first_dt, pdf):
    """THE visitor-fix decision table applied to one Arrow batch:
    returns (output pdf, new first_dt)."""
    pdf = pdf.sort_values(["ts", "event_id"])
    n = len(pdf)
    is_new = pdf["is_new"].to_numpy(dtype=object)
    days = pdf["dt"].to_numpy(dtype=object)
    firsts = np.full(n, first_dt, dtype=object)
    if first_dt is None:
        valid = (is_new == "1") | (is_new == "0")
        if valid.any():
            i = int(np.argmax(valid))
            if is_new[i] == "1":
                est = days[i]
            else:  # backfill: day before the first valid record's day
                est = (pd.Timestamp(days[i]) - pd.Timedelta(days=1)).strftime(
                    "%Y-%m-%d"
                )
            firsts[i:] = est
            first_dt = est
    known = firsts != None  # noqa: E711 — elementwise on object array
    fixed = np.where((is_new == "1") & known & (days != firsts), "0", is_new)
    out = pd.DataFrame(
        {
            "mid": pdf["mid"],
            "event_id": pdf["event_id"],
            "ts": pdf["ts"],
            "is_new": fixed,
            "first_login_dt": firsts,
        }
    )
    return out, first_dt


def visitor_fix(df: DataFrame) -> DataFrame:
    """T1 — apply the new-visitor fix to a stream with columns
    (mid, event_id, ts, is_new).  Keyed shuffle on mid, per-key ValueState —
    the same topology as keyBy + KeyedProcessFunction (DwdBaseLog.java:202-206).

    The event day is attached here as a JVM-side session-timezone
    `date_format` (the pipeline default is the reference's UTC+8,
    session.py) so streaming and batch day attribution agree.
    """
    with_dt = df.withColumn(
        "dt", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd")
    )
    return with_dt.groupBy("mid").applyInPandasWithState(
        visitor_fix_fn,
        outputStructType=_VISITOR_OUT,
        stateStructType=_VISITOR_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# the flags of first_seen and first_seen_batch
FIRST_SEEN_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("dt", StringType()),
        StructField("ts", LongType()),
        StructField("is_first", IntegerType()),
    ]
)
_FIRST_SEEN_STATE = StructType([StructField("seen", IntegerType())])


# Must exceed the 24 h day span: a (key, day) entry's last legitimate
# event can trail its first by almost a full day, and the timer re-arms
# per activity, so ttl > 24 h guarantees live days never expire.
FIRST_SEEN_TTL_MS = 36 * 3600 * 1000


def _first_seen_fn(ttl_ms: int):
    """Build the per-(key, day) first-seen state function (TTL closure).
    ttl_ms=0 → never sets a timer (safe under NoTimeout)."""

    def fn(
        key: tuple[str, str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        seen = state.exists
        max_ts = 0
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            max_ts = max(max_ts, int(pdf["ts"].max()))
            flags = np.zeros(len(pdf), dtype=np.int32)
            if not seen and len(pdf):
                flags[0] = 1
                seen = True
            yield pd.DataFrame(
                {
                    "key": pdf["key"],
                    "dt": pdf["dt"],
                    "ts": pdf["ts"],
                    "is_first": flags,
                }
            )
        state.update((1,))
        if ttl_ms > 0:
            # Anchor the timer to event time, not the bare watermark: in
            # the FIRST micro-batch the applied watermark is still 0, and
            # an epoch-anchored timer fires on the very next batch —
            # wiping live state and re-emitting is_first=1 for the key.
            base = max(state.getCurrentWatermarkMs(), max_ts)
            state.setTimeoutTimestamp(base + ttl_ms)

    return fn


def first_seen(
    df: DataFrame, delay: str = "24 hours",
    ttl_ms: int | None = FIRST_SEEN_TTL_MS,
) -> DataFrame:
    """Per-(key, day) first-seen marker over a stream with columns
    (key, ts) — the UU dedup primitive behind A3/A4/A6 (SURVEY §2.5):
    emits is_first=1 exactly once per (key, day).

    State is keyed by (key, day) rather than tracking only the latest day,
    so an earlier day's first event arriving out of order — within
    `delay` of the max event time seen — is still flagged.

    State TTL (the 100 TB concern): each (key, day) entry is removed once
    the WATERMARK passes ttl_ms beyond its last activity; without this the
    store grows by |keys| entries every day, forever.  Event-time timeout,
    NOT processing-time: processing-time timers make the scheduler run
    no-data micro-batches continuously to fire them (an availableNow drain
    never terminates), while event-time timers fire only as the watermark
    moves and converge.

    ``ttl_ms`` must exceed 24 h + the expected lateness: a live day's
    events can span almost 24 h, and the timer re-arms on each activity.
    ``ttl_ms=None`` or ``0`` disables the TTL *and the input watermark*:
    Spark forbids redefining a watermark downstream of a watermarked
    stateful op, so the TTL'd form cannot feed a windowed agg in the SAME
    query.  Pass None to chain op → window in one query (and bound state
    some other way); keep the default TTL when the flags feed a
    sink/foreachBatch directly.  (The warehouse runs the set-based twin
    ``first_seen_batch`` instead, which needs no watermark at all.)

    An input that already has a ``row_time`` column keeps it, and its
    watermark, as given; ``delay`` is then unused.  That is how a union
    of inputs runs through one query: each input attaches its own
    ``row_time`` and watermark before the union, and Spark's ``min``
    policy keeps a fast input from making a slow one's rows late."""
    ttl = ttl_ms or 0  # None and 0 both mean "no TTL" (NoTimeout)
    if "row_time" in df.columns:
        # kept as given: re-deriving it would strip the caller's watermark
        with_dt = df
    else:
        with_dt = df.withColumn("row_time", F.timestamp_millis("ts"))
        if ttl > 0:
            with_dt = with_dt.withWatermark("row_time", delay)
    with_dt = with_dt.withColumn("dt", F.date_format("row_time", "yyyy-MM-dd"))
    return with_dt.groupBy("key", "dt").applyInPandasWithState(
        _first_seen_fn(ttl),
        outputStructType=FIRST_SEEN_OUT,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout
        if ttl > 0
        else GroupStateTimeout.NoTimeout,
    )


def visitor_fix_batch(batch: DataFrame, state, spark) -> DataFrame:
    """T1 as a per-micro-batch set operation against a persistent state
    table (sinks/upsert.KeyedTable keyed by mid) — used inside
    ``foreachBatch`` when the full (nested) record must flow through.

    The sequential decision table collapses to a closed form per batch:
    the key's effective first_login_dt is the stored state, else derived
    from its earliest VALID record in the batch (is_new=1 → that day;
    is_new=0 → the day before, the backfill at DwdBaseLog.java:171; other
    markers are dirty data and never touch state, :176-178); then is_new=1
    records on a later day than effective are rewritten to 0.
    Set-based ⇒ one shuffle per batch, no per-record Python.
    """
    from pyspark.sql import functions as F

    b = batch.withColumn("dt", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd"))
    firsts = b.filter(F.col("is_new").isin("1", "0")).groupBy("mid").agg(
        F.min_by(F.struct("dt", "is_new"), F.struct("ts")).alias("fr")
    )
    candidate = F.when(
        F.col("fr.is_new") == "1", F.col("fr.dt")
    ).otherwise(F.date_format(F.date_sub(F.to_date("fr.dt"), 1), "yyyy-MM-dd"))
    firsts = firsts.select("mid", candidate.alias("candidate_dt"))
    stored = state.read(spark)
    if stored is None:
        eff = firsts.select("mid", F.col("candidate_dt").alias("first_login_dt"))
    else:
        eff = (
            firsts.join(stored.withColumnRenamed("first_login_dt", "stored_dt"), "mid", "left")
            .select(
                "mid", F.coalesce("stored_dt", "candidate_dt").alias("first_login_dt")
            )
        )
    # pin eff before the state MERGE rewrites the parquet it lazily reads
    eff = eff.cache()
    eff.count()
    fixed = (
        b.join(eff, "mid", "left")
        .withColumn(
            "is_new",
            F.when(
                (F.col("is_new") == "1") & (F.col("dt") != F.col("first_login_dt")), "0"
            ).otherwise(F.col("is_new")),
        )
        .drop("dt")
    )
    state.merge(spark, eff)
    # materialize fixed, then release eff — otherwise one cached plan
    # accumulates per micro-batch for the lifetime of the stream.
    # The returned DataFrame is PERSISTED (it must not lazily re-read the
    # state parquet the merge just rewrote); the caller owns releasing it
    # (dwd_log_foreach_batch unpersists in its finally block) — leaking
    # one cached plan per micro-batch is the same accumulation `eff`
    # guards against.
    fixed = fixed.persist()
    fixed.count()
    eff.unpersist()
    return fixed


def first_seen_batch(batch: DataFrame, state, spark, batch_id: int) -> DataFrame:
    """Per-(key, day) first-seen flags as a per-micro-batch set operation
    against a persistent state table — the batch twin of ``first_seen``,
    used inside ``foreachBatch``: no per-group Python, no state store,
    no watermark.

    ``batch`` has columns (key, ts); ``dt`` is derived from ``ts`` as
    ``first_seen`` derives it.  ``state`` is a ``KeyedTable`` keyed by
    (key, dt), insert-only, with rows (key, dt, ts = first ts,
    first_batch).  Within a (key, dt) the min-ts row of the batch gets
    is_first=1 (ties broken by ``row_number``), unless the state already
    holds that (key, dt).  Returns (key, dt, ts, is_first), one row per
    input row.

    TTL horizon, one per source: a key tagged ``<source>|...`` (as
    ``streaming/dws.uu_key`` tags them; an untagged key is source "")
    belongs to that source.  The horizon is the MIN over sources of each
    source's max first ts, minus ``FIRST_SEEN_TTL_MS`` — Spark's ``min``
    watermark policy, so a source that runs ahead never expires the
    entries of one that lags, and a quiet source holds the horizon (and
    the state) where it stood.  Entries expire 36 h after first sight by
    their slowest source's clock, more than the 24 h a day spans; unlike
    ``first_seen`` no row is dropped as late (the reference's keyed
    first-visit step drops none either).

    Replay contract (as ``streaming/neardup.py``): entries an earlier
    attempt of the SAME ``batch_id`` wrote are masked, and the horizon
    comes from that masked state, read raw (a merge drops physically
    only entries below the horizon it ran under, never a source's
    latest).  The flags are therefore a pure function of (batch, state
    before the batch): a replay recomputes them identically and
    rewrites the same entries.

    Scale: every batch reads the whole state table twice — one
    aggregate job for the horizon and the join — so that cost is
    O(total state), not O(batch keys); only the merge is bounded (it
    rewrites the buckets the batch's new keys touch, as the visitor
    state's does).

    The returned DataFrame is PERSISTED and materialized (it must not
    lazily re-read the state the merge just rewrote); the caller
    releases it."""
    b = batch.select("key", "ts").withColumn(
        "dt", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd")
    )
    first = F.row_number().over(Window.partitionBy("key", "dt").orderBy("ts")) == 1
    stored = state.read_version(spark)  # raw: the horizon is recomputed
    if stored is None:
        is_first = first
    else:
        prior = stored.filter(F.col("first_batch") != batch_id)
        top = (
            prior.groupBy(F.regexp_extract("key", r"^([^|]*)\|", 1))
            .agg(F.max("ts").alias("top"))
            .agg(F.min("top"))
            .first()[0]
        )
        if top is not None:
            horizon = top - FIRST_SEEN_TTL_MS
            state.set_ttl_horizon(horizon)
            prior = prior.filter(F.col("ts") >= horizon)
        seen = prior.select("key", "dt", F.lit(True).alias("seen"))
        b = b.join(seen, ["key", "dt"], "left")
        is_first = first & F.col("seen").isNull()
    flags = b.select("key", "dt", "ts", is_first.cast("int").alias("is_first")).persist()
    flags.count()
    state.merge(
        spark,
        flags.filter(F.col("is_first") == 1).select(
            "key", "dt", "ts", F.lit(batch_id).cast("long").alias("first_batch")
        ),
    )
    return flags
