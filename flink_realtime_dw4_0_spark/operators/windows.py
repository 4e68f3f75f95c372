"""Windowed aggregation operators (SURVEY §2.5 A1-A8).

The reference's DWS layer is empty but names 8 tumbling-window summary
tables (Constant.java:40-47); all of them reduce to
``groupBy(window(event_time, size), *dims).agg(...)`` — built-in Structured
Streaming tumbling windows in stream mode, plain groupBy in batch.

Scale notes: windowed aggs shuffle once on (window, dims); partial
aggregation (map-side combine) happens automatically.  Distinct-user
counts use exact count_distinct in batch and first-seen keyed state in
streaming (operators/state.py); at 100 TB prefer approx_count_distinct
when the serving table tolerates ~2% error.

``append_window_batch`` is the set-based twin of a streaming append-mode
tumbling window: the same closed windows, computed inside
``foreachBatch`` against a table of open-window partials, with no state
store and no no-data batch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.upsert import KeyedTable


_UNIT_SECONDS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def duration_seconds(s: str) -> int:
    """Parse a Spark-style duration string ('30 minutes', '1 day',
    compound '1 hour 30 minutes') to whole seconds — accepting the same
    shapes `F.window` accepts, so hop and cumulate stay consistent.
    Sub-second windows aren't part of this surface."""
    parts = s.strip().split()
    if not parts or len(parts) % 2:
        raise ValueError(
            f"duration {s!r}: expected '<n> <unit> [<n> <unit> ...]' "
            f"with units in {sorted(set(_UNIT_SECONDS))}"
        )
    total = 0
    for n, unit in zip(parts[::2], parts[1::2]):
        try:
            total += int(n) * _UNIT_SECONDS[unit.lower()]
        except (ValueError, KeyError):
            raise ValueError(
                f"duration {s!r}: bad component {n!r} {unit!r} "
                f"(units: {sorted(set(_UNIT_SECONDS))})"
            ) from None
    return total


def _finish(out: DataFrame, start_col: str, end_col: str) -> DataFrame:
    """Emit window bounds as formatted strings (`window_start`,
    `window_end`) so results hash identically across engines/timezones."""
    rest = [c for c in out.columns if c not in (start_col, end_col)]
    return out.select(
        F.date_format(start_col, "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format(end_col, "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        *rest,
    )


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    size: str,
    dims: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Generic tumbling-window groupBy — the common shape of all 8 DWS
    tables (Constant.java:40-47)."""
    out = df.groupBy(F.window(ts_col, size).alias("__w"), *dims).agg(*aggs)
    return _finish(
        out.select(F.col("__w.start").alias("__ws"), F.col("__w.end").alias("__we"),
                   *[c for c in out.columns if c != "__w"]),
        "__ws", "__we",
    )


def windowed_agg_hop(
    df: DataFrame,
    ts_col: str,
    size: str,
    slide: str,
    dims: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Sliding (HOP) window aggregation — Flink SQL's ``HOP(..., slide,
    size)`` window TVF, the standard "last hour, refreshed every N
    minutes" serving shape the DWS tables upgrade to when dashboards need
    overlap.  Built-in in Spark: ``F.window(ts, size, slide)`` replicates
    each row into size/slide windows before the partial aggregation, so
    the shuffle still carries pre-combined partials — at 100 TB the cost
    is exactly (size/slide)x the tumbling agg, never a re-scan per slide.
    """
    out = df.groupBy(F.window(ts_col, size, slide).alias("__w"), *dims).agg(*aggs)
    return _finish(
        out.select(F.col("__w.start").alias("__ws"), F.col("__w.end").alias("__we"),
                   *[c for c in out.columns if c != "__w"]),
        "__ws", "__we",
    )


def windowed_agg_cumulate(
    df: DataFrame,
    ts_col: str,
    step: str,
    max_size: str,
    dims: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Cumulative (CUMULATE) window aggregation — Flink SQL's
    ``CUMULATE(..., step, max_size)`` TVF: expanding windows
    [base, base+step), [base, base+2*step), ... [base, base+max_size)
    that all share a day/period anchor — the "running total since
    midnight, emitted every step" DWS shape (e.g. GMV-today curves).

    Spark has no built-in cumulate window; the composition is an explode
    over the (max_size/step) window ends each row belongs to, then one
    grouped aggregation — same partial-agg/shuffle profile as HOP with
    factor max_size/step.  Rows land in every window whose end is
    strictly after the event time (Flink semantics: event belongs to all
    cumulating windows of its anchor period that have not yet closed).

    Streaming note: the exploded grouping keys here are derived columns,
    which drops Spark's event-time metadata, so this exact shape cannot
    run in append mode.  The streaming idiom for cumulate serving tables
    is: tumble at `step` granularity (watermark-finalized, append-safe),
    then roll the steps up cumulatively at read/serving time — an
    O(max/step)-row window per key on the SERVING table, not the fact
    stream.  Batch/backfill uses this function directly.
    """
    step_s, max_s = duration_seconds(step), duration_seconds(max_size)
    if max_s % step_s:
        raise ValueError(f"max_size {max_size!r} must be a multiple of step {step!r}")
    n = max_s // step_s
    exploded = (
        df.withColumn("__base", F.window(ts_col, max_size)["start"])
        .withColumn("__j", F.explode(F.sequence(F.lit(1), F.lit(n))))
        .withColumn("__end", F.expr(f"timestampadd(SECOND, __j * {step_s}, __base)"))
        .filter(F.col("__end") > F.col(ts_col))
    )
    out = exploded.groupBy("__base", "__end", *dims).agg(*aggs)
    return _finish(out, "__base", "__end")


def cumulate_rollup(
    steps: DataFrame,
    step: str,
    max_size: str,
    dims: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Serving-side half of the streaming CUMULATE idiom: given
    STEP-granularity tumbling aggregates (`windowed_agg(df, ts, step,
    ...)` output — append-safe, watermark-finalized in streams), produce
    the cumulative windows `windowed_agg_cumulate` would emit, without
    touching the fact stream.

    Shape: per (anchor period, dims), gap-fill the max/step step spine
    (explode of a constant-length sequence), then one running-sum window
    ordered by step end.  Input is the SERVING table (windows x dims
    rows), so the per-key window sort is over <= max/step rows — the
    O(steps) rollup the cumulate docstring promises.  Only additive
    aggregates roll up this way (sums/counts); distinct-style measures
    need the first-seen state path like every cumulative UV.

    Equality `cumulate_rollup(windowed_agg(step)) ==
    windowed_agg_cumulate(df)` modulo empty windows (a cumulative window
    whose prefix saw no events yet has no row in either) is tested.
    """
    step_s, max_s = duration_seconds(step), duration_seconds(max_size)
    if max_s % step_s:
        raise ValueError(f"max_size {max_size!r} must be a multiple of step {step!r}")
    n = max_s // step_s
    ws = F.to_timestamp("window_start", "yyyy-MM-dd HH:mm:ss")
    anchored = steps.withColumn("__anchor", F.window(ws, max_size)["start"]).withColumn(
        "__step_end", F.expr(f"timestampadd(SECOND, {step_s}, to_timestamp(window_start))")
    )
    # spine: every (anchor, dims) with at least one step gets all n ends
    spine = (
        anchored.select("__anchor", *dims)
        .distinct()
        .withColumn("__j", F.explode(F.sequence(F.lit(1), F.lit(n))))
        .withColumn("__end", F.expr(f"timestampadd(SECOND, __j * {step_s}, __anchor)"))
        .drop("__j")
    )
    # null-SAFE join on dims (NULL is a legitimate group key out of
    # windowed_agg); join-miss detection via an explicit presence marker,
    # not a measure column (a step whose first aggregate is NULL is still
    # a present step)
    right = anchored.withColumnRenamed("__step_end", "__end").withColumn(
        "__present", F.lit(1)
    )
    right = right.select(
        F.col("__anchor").alias("__r_anchor"),
        F.col("__end").alias("__r_end"),
        *[F.col(c).alias(f"__r_{c}") for c in dims],
        *[F.col(c).alias(f"__m_{c}") for c in sum_cols],
        "__present",
    )
    cond = (F.col("__anchor") == F.col("__r_anchor")) & (F.col("__end") == F.col("__r_end"))
    for c in dims:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__r_{c}"))
    filled = spine.join(right, cond, "left")
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("__anchor", *dims)
        .orderBy("__end")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    rolled = filled.select(
        "__anchor",
        "__end",
        *dims,
        # F.sum skips NULLs and yields NULL iff every input is NULL —
        # matching the direct cumulate for all-NULL measure prefixes
        *[F.sum(F.col(f"__m_{c}")).over(w).alias(c) for c in sum_cols],
        F.sum(F.coalesce(F.col("__present"), F.lit(0))).over(w).alias("__seen"),
    )
    # drop cumulative windows whose prefix has no data yet (they have no
    # twin in windowed_agg_cumulate either)
    return _finish(rolled.filter(F.col("__seen") > 0).drop("__seen"), "__anchor", "__end")


class OpenWindows:
    """The state of ``append_window_batch`` under one directory:

    * ``partials`` — a ``KeyedTable`` of per-batch partial aggregates
      (stt, edt, dims, sums, batch), insert-only, keyed by the batch id
      and a ``slot`` string naming (window start, dims) null-safely;
      its TTL column is the window end, so expired windows vanish from
      reads at once and from disk when their bucket is next rewritten;
    * ``log/`` — one small JSON entry per batch id: the watermarks the
      batch ran under and produced, the per-source max event times
      before and after it, and the rows it dropped as late.  Entries
      are replaced atomically; only the last ``KEEP_LOG`` are kept (a
      replay reads the entry of the batch before it)."""

    KEEP_LOG = 8

    def __init__(self, path: str):
        self.partials = KeyedTable(
            os.path.join(path, "partials"), keys=["batch", "slot"], ttl_col="edt"
        )
        self.log_dir = os.path.join(path, "log")

    def _ids(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f[len("batch-"):-len(".json")])
            for f in os.listdir(self.log_dir)
            if f.startswith("batch-") and f.endswith(".json")
        )

    def _file(self, batch_id: int) -> str:
        return os.path.join(self.log_dir, f"batch-{batch_id:012d}.json")

    def entry(self, batch_id: int | None = None, before: bool = False) -> dict | None:
        """The log entry of ``batch_id`` (the latest when None); with
        ``before``, the latest entry of an EARLIER batch instead."""
        ids = self._ids()
        if batch_id is not None:
            ids = [i for i in ids if i < batch_id] if before else [i for i in ids if i == batch_id]
        if not ids:
            return None
        with open(self._file(ids[-1])) as fh:
            return json.load(fh)

    def write(self, entry: dict) -> None:
        os.makedirs(self.log_dir, exist_ok=True)
        f = self._file(entry["batch"])
        with open(f + ".tmp", "w") as fh:
            json.dump(entry, fh, sort_keys=True)
        os.replace(f + ".tmp", f)
        for i in self._ids()[: -self.KEEP_LOG]:
            os.remove(self._file(i))


def append_window_batch(
    spark: SparkSession,
    batch_id: int,
    state: OpenWindows,
    rows: DataFrame,
    dims: list[str],
    sums: list[str],
    size: str,
    delay: str,
    events: DataFrame | None = None,
    sources: dict[str, Column] | None = None,
) -> DataFrame:
    """One micro-batch of an append-mode tumbling-window aggregation
    (``groupBy(window(row_time, size), *dims)`` behind
    ``withWatermark("row_time", delay)``) as a set operation against
    ``state`` — used inside ``foreachBatch``.  Returns the closed
    windows this batch (re)computes: (stt, edt, *dims, *sums).

    ``rows`` has ``row_time`` (timestamp), the ``dims`` and one column
    per name in ``sums``: every measure is a SUM of per-row values (a
    count sums a literal 1), so partials from different batches add up.
    ``events`` (default ``rows``) are the rows that advance the
    watermark — Spark computes it at the watermark node, below filters
    Catalyst pushes through it but above an explode, so the caller
    passes what reaches that node.  ``sources`` names the inputs of a
    union that each carried their own watermark, as predicates over
    ``events`` (default: one input).

    Watermark, as Spark's: W_k, the watermark batch k runs under, is
    max(W_(k-1), min over sources of (max event time - delay)) over the
    events of batches before k; a source with no event yet counts as 0
    (Spark's ``min`` policy holds a query at an input it has not seen),
    and W_0 = 0.  The per-source maxima persist in the log, so after a
    restart a quiet source keeps its max, where a resumed Spark query
    holds its restored watermark until every input has rows again
    (earlier emission here, same windows).  A row is dropped as late iff its window ends at or
    before W_(k-1), the previous batch's watermark (Spark filters late
    rows against it, and evicts against W_k).  Batch k emits every
    window with W_k < end <= W_(k+1), and those with W_(k-1) < end <= W_k
    that its own partials touch: what Spark's batch k emits plus what its
    trailing no-data batch would, so after the last batch of a drain the
    emitted windows equal Spark's.  A window an earlier batch emitted is
    re-emitted only by a batch that adds rows to it (a serving upsert
    converges), so a quiet batch emits nothing.  One difference
    remains: a row landing in a window with W_k < end <= W_(k+1) in the
    NEXT drain is accepted here and the window is emitted again, where
    Spark's no-data batch at the end of the drain had closed it and
    would drop the row.

    State: this batch's partials are merged under (batch_id, slot), so a
    replay rewrites its own earlier rows; the TTL horizon drops windows
    that end at or before W_(k-1) — no later row can reach them — so the
    table holds open windows, not history.  The log entry of batch k
    derives from the entry of the batch before it, never its own, and
    the partials it reads are this batch's plus earlier ones above the
    horizon: a replay recomputes identical output, entry and state.

    Jobs: one aggregate over ``events`` (per-source max event time and
    the late-row count), the partials merge, and the caller's reads of
    the returned windows."""
    duration_seconds(size)  # whole seconds: the TTL below compares them
    delay_ms = duration_seconds(delay) * 1000
    events = rows if events is None else events
    if sources is None:
        sources = {"": F.lit(True)}
    prev = state.entry(batch_id, before=True) or {
        "watermark_ms": 0, "next_watermark_ms": 0, "max_event_ms_after": {}
    }
    late, wm = prev["watermark_ms"], prev["next_watermark_ms"]
    before = {s: prev["max_event_ms_after"].get(s) for s in sources}

    # by name: a Dataset-bound row_time under F.window reads as an
    # ambiguous self-join once the input's plan holds a join (as
    # state.first_seen_batch's flags do)
    w = F.window("row_time", size)
    end_ms = F.unix_millis(w.end)
    stats = events.agg(
        *[F.max(F.when(p, F.unix_millis("row_time"))).alias(f"max{i}")
          for i, p in enumerate(sources.values())],
        F.count_if(end_ms <= late).alias("late"),
    ).first()
    after = {
        s: max((v for v in (before[s], stats[f"max{i}"]) if v is not None), default=None)
        for i, s in enumerate(sources)
    }
    nxt = max(wm, min((0 if m is None else m - delay_ms) for m in after.values()))
    state.write({
        "batch": batch_id, "late_watermark_ms": late, "watermark_ms": wm,
        "next_watermark_ms": nxt, "max_event_ms_before": before,
        "max_event_ms_after": after, "rows_dropped_late": stats["late"],
    })

    partials = (
        rows.filter(end_ms > late)
        .groupBy(w.start.alias("stt"), w.end.alias("edt"), *dims)
        .agg(*[F.sum(c).alias(c) for c in sums])
        .withColumn("batch", F.lit(batch_id).cast("long"))
        .withColumn("slot", F.to_json(F.struct(F.unix_millis("stt").alias("stt"), *dims)))
    )
    # window ends are whole seconds and the TTL compares edt as epoch
    # seconds: keep edt > late
    state.partials.set_ttl_horizon(late // 1000 + 1)
    state.partials.merge(spark, partials)
    stored = state.partials.read(spark)
    closed = (partials if stored is None else stored).filter(
        F.unix_millis("edt") <= nxt
    )
    # a window batch k-1 emitted (end <= W_k) changed only if this batch
    # added to it
    return (
        closed.groupBy("stt", "edt", *dims)
        .agg(*[F.sum(c).alias(c) for c in sums],
             F.bool_or(F.col("batch") == batch_id).alias("_touched"))
        .filter((F.unix_millis("edt") > wm) | F.col("_touched"))
        .drop("_touched")
    )
