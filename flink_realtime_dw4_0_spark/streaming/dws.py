"""DWS windowed summary pipelines — the 8 planned tables
(Constant.java:40-47), as Structured Streaming window aggs.

Every table is `groupBy(window(row_time, size), dims).agg(...)` in append
mode behind a watermark; the UU tables share one first-seen flags
step upstream, so each (source, key, day) contributes once.  All transforms
also run on bounded frames (tests / backfill) unchanged.

The warehouse runs A1, A2 and A3/A6 through their ``*_windows`` twins
instead: one ``foreachBatch`` step each over the DWD stream's batch,
``operators/windows.append_window_batch`` against an ``OpenWindows``
state, emitting the same closed windows with no state store.  A3/A6's
step takes the flags ``operators/state.first_seen_batch`` computes from
the same batch, so the whole UU chain is one query; A1's and A2's steps
run side by side on one page batch, in one query, each with its own
state and watermark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.windows import OpenWindows, append_window_batch


WINDOW = "10 seconds"  # the classic gmall DWS tumbling size
DELAY = "5 seconds"  # the warehouse's watermark delay
UU_SOURCES = ("uv", "cart")  # the source tags of the unique-user keys


def _win(df: DataFrame, size: str, *dims: Column | str):
    return df.groupBy(F.window("row_time", size).alias("w"), *dims)


def _flat(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("w.start").alias("stt"),
        F.col("w.end").alias("edt"),
        *[c for c in df.columns if c != "w"],
    ).drop("w")


def _search_pages(page_log: DataFrame) -> DataFrame:
    return page_log.filter(
        (F.col("page.last_page_id") == "search") & F.col("page.item").isNotNull()
    )


def _keywords(search: DataFrame, tokenizer=None) -> DataFrame:
    """(row_time, keyword): one row per token of each search's item."""
    from ..operators.split import explode_computed
    from ..operators.text import tokenize_keywords

    if tokenizer is None:
        tokenizer = tokenize_keywords
    return explode_computed(search, ["row_time"], tokenizer(F.col("page.item")), "keyword")


def keyword_page_view(page_log: DataFrame, size: str = WINDOW, tokenizer=None) -> DataFrame:
    """A1 — dws_traffic_source_keyword_page_view_window: tokenize search
    keyword, count per keyword per window (Constant.java:40, X13 UDTF —
    the reference's IK Chinese analyzer; here the CJK-aware tokenizer,
    which equals whitespace split on non-CJK text).

    `tokenizer` swaps the segmentation strategy (a Column → array<string>
    fn): default CJK-bigram `tokenize_keywords`; dictionary-based
    `tokenize_keywords_dict` / `tokenize_keywords_jieba` plug in
    unchanged — the window/explode/count plumbing is segmenter-agnostic.
    """
    kw = _keywords(_search_pages(page_log), tokenizer)
    out = _win(kw, size, "keyword").agg(F.count(F.lit(1)).alias("keyword_count"))
    return _flat(out)


TRAFFIC_DIMS = ["vc", "ch", "ar", "is_new"]


def _traffic_rows(page_log: DataFrame) -> DataFrame:
    """(row_time, vc, ch, ar, is_new, pv_ct, sv_ct, dur_sum): each page's
    contribution to A2's measures, which are all sums of these."""
    return page_log.select(
        "row_time",
        *[F.col(f"common.{d}").alias(d) for d in TRAFFIC_DIMS],
        F.lit(1).alias("pv_ct"),
        F.when(F.col("page.last_page_id").isNull(), 1).otherwise(0).alias("sv_ct"),
        F.col("page.during_time").alias("dur_sum"),
    )


def traffic_vc_ch_ar_is_new(page_log: DataFrame, size: str = WINDOW) -> DataFrame:
    """A2 — per (vc, ch, ar, is_new): PV, session count, duration sum
    (Constant.java:41)."""
    out = _win(_traffic_rows(page_log), size, *TRAFFIC_DIMS).agg(
        F.count(F.lit(1)).alias("pv_ct"),
        F.sum("sv_ct").alias("sv_ct"),
        F.sum("dur_sum").alias("dur_sum"),
    )
    return _flat(out)


def uu_key(src: str, key: Column) -> Column:
    """Tag a unique-user key with its source table ("uv|<mid>",
    "cart|<user_id>"), so one first-seen chain serves every UU table."""
    return F.concat(F.lit(f"{src}|"), key)


def unique_users(first_seen_flags: DataFrame, size: str = WINDOW) -> DataFrame:
    """A3 + A6 — first-seen keys per window per source, from the
    source-tagged flags of operators/state.first_seen or its set-based
    twin first_seen_batch (the warehouse's): ``src`` "uv" is
    the home/detail-page UV (Constant.java:42), "cart" the cart-add
    unique users (Constant.java:45).  Returns (stt, edt, src, uu_ct).

    If the caller already attached a (watermarked) row_time it is kept —
    re-deriving it would strip the watermark tag and break append-mode
    chaining (first_seen → window agg runs as ONE streaming query)."""
    f = first_seen_flags.filter(F.col("is_first") == 1)
    if "row_time" not in f.columns:
        f = f.withColumn("row_time", F.timestamp_millis("ts"))
    f = f.withColumn("src", F.substring_index("key", "|", 1))
    out = _win(f, size, "src").agg(F.count(F.lit(1)).alias("uu_ct"))
    return _flat(out)


def uu_rows(uu: DataFrame, src: str, count_col: str) -> DataFrame:
    """One source's rows of ``unique_users``, shaped as its serving
    table: (stt, edt, <count_col>)."""
    return uu.filter(F.col("src") == src).select("stt", "edt", F.col("uu_ct").alias(count_col))


# ---- set-based twins: the warehouse's DWS steps -------------------------
# Each takes one micro-batch of its DWD stream (epoch-millis ``ts``) and
# returns the closed windows to upsert, shaped as the streaming function's
# output.  The watermark rows are what reaches Spark's watermark node in
# the streaming form: the search filter sits below it for A1 (Catalyst
# pushes it through), the is_first filter for A3/A6.

def _timed(batch: DataFrame) -> DataFrame:
    return batch.withColumn("row_time", F.timestamp_millis("ts"))


def keyword_windows(pages: DataFrame, batch_id: int, state: OpenWindows) -> DataFrame:
    """A1 (``keyword_page_view``) as a set-based batch step."""
    search = _search_pages(_timed(pages))
    rows = _keywords(search).withColumn("keyword_count", F.lit(1))
    return append_window_batch(pages.sparkSession, batch_id, state, rows, ["keyword"],
                               ["keyword_count"], WINDOW, DELAY, events=search)


def traffic_windows(pages: DataFrame, batch_id: int, state: OpenWindows) -> DataFrame:
    """A2 (``traffic_vc_ch_ar_is_new``) as a set-based batch step."""
    return append_window_batch(pages.sparkSession, batch_id, state,
                               _traffic_rows(_timed(pages)), TRAFFIC_DIMS,
                               ["pv_ct", "sv_ct", "dur_sum"], WINDOW, DELAY)


def unique_user_windows(flags: DataFrame, batch_id: int, state: OpenWindows) -> DataFrame:
    """A3 + A6 (``unique_users`` over one union input per source in
    ``UU_SOURCES``, each with its own watermark) as a set-based batch
    step over one batch of source-tagged flags: the watermark is the
    min over the sources, as Spark's ``min`` policy over the union."""
    rows = (
        _timed(flags.filter(F.col("is_first") == 1))
        .select("row_time", F.substring_index("key", "|", 1).alias("src"),
                F.lit(1).alias("uu_ct"))
        .filter(F.col("src").isin(*UU_SOURCES))
    )
    return append_window_batch(flags.sparkSession, batch_id, state, rows, ["src"],
                               ["uu_ct"], WINDOW, DELAY,
                               sources={s: F.col("src") == s for s in UU_SOURCES})


def user_login(log: DataFrame, size: str = WINDOW) -> DataFrame:
    """A4 — unique users + 7-day-back users per window (Constant.java:43):
    uses the corrected is_new + first_login_dt emitted by the visitor fix."""
    u = log.filter(F.col("uid").isNotNull())
    # approx_count_distinct: exact DISTINCT aggregations are rejected in
    # streaming (same constraint as province_order below); the batch-exact
    # twin is the a4_user_login_window catalog query
    out = _win(u, size).agg(
        F.approx_count_distinct("uid").alias("uu_ct"),
        F.approx_count_distinct(
            F.when(
                F.datediff(F.to_date(F.timestamp_millis("ts")), F.to_date("first_login_dt")) >= 7,
                F.col("uid"),
            )
        ).alias("back_ct"),
    )
    return _flat(out)


def user_register(topic_db: DataFrame, size: str = WINDOW) -> DataFrame:
    """A5 — register count per window (Constant.java:44): user_info inserts."""
    reg = topic_db.filter(
        (F.col("table") == "user_info") & (F.col("type") == "insert")
    )
    out = _win(reg, size).agg(F.count(F.lit(1)).alias("register_ct"))
    return _flat(out)


def sku_order(order_detail: DataFrame, sku_dim: DataFrame | None, size: str = WINDOW) -> DataFrame:
    """A7 — per-SKU order amounts per window + dim enrichment
    (Constant.java:46)."""
    od = order_detail.select(
        "row_time",
        F.col("sku_id"),
        F.col("split_total_amount").cast("double").alias("total"),
        F.coalesce(F.col("split_activity_amount").cast("double"), F.lit(0.0)).alias("act"),
        F.coalesce(F.col("split_coupon_amount").cast("double"), F.lit(0.0)).alias("coup"),
    )
    out = _win(od, size, "sku_id").agg(
        F.round(F.sum("total"), 2).alias("order_amount"),
        F.round(F.sum("act"), 2).alias("activity_amount"),
        F.round(F.sum("coup"), 2).alias("coupon_amount"),
    )
    flat = _flat(out)
    if sku_dim is not None:
        flat = flat.join(F.broadcast(sku_dim), "sku_id", "left")
    return flat


def province_order(order_detail: DataFrame, size: str = WINDOW) -> DataFrame:
    """A8 — per-province order count + amount per window (Constant.java:47)."""
    od = order_detail.select(
        "row_time",
        F.col("province_id"),
        F.col("order_id"),
        F.col("split_total_amount").cast("double").alias("total"),
    )
    out = _win(od, size, "province_id").agg(
        F.approx_count_distinct("order_id").alias("order_ct"),
        F.round(F.sum("total"), 2).alias("order_amount"),
    )
    return _flat(out)
