"""Full layered warehouse — the reference's whole topology as one wiring.

ODS (raw topic_db / topic_log streams)
  → DIM  (config-driven dim MERGE warehouse)          [DimAPP]
  → DWD  (log split + visitor fix; trade fact tables) [DwdBaseLog, Dwd*]
  → DWS  (tumbling-window summaries → serving tables) [Constant.java:40-47]

Layer boundaries match the reference: DWD materializes detail streams
(parquet dirs standing in for Kafka topics), and DWS jobs *consume the DWD
output as their own streams*.  No query runs a state operator: the
first-seen flags (``operators/state.first_seen_batch``) and the DWS
windows (``operators/windows.append_window_batch``) are set operations
inside ``foreachBatch`` against ``KeyedTable`` state under ``state/``, so
the warehouse never loads a state store and runs no no-data batch.
Cross-batch windows still accumulate: each batch adds its partials to
the open-window table and upserts the windows the watermark closes.

Replay: the keyed MERGE sinks (dim, order join, comment, visitor,
first-seen and open-window state, serving tables) rewrite the same keys,
and the DWD streams (cart_add, the five log routes) publish one file per
batch id, so a replayed batch converges to the same tables.

Watermarks are the DWS twin's, computed as Spark's would be for the
native window queries each twin replaces (``append_window_batch``): the
max event time of the rows that reach the watermark node, minus 5 s,
over all earlier batches.  Watermark-advance delta vs Flink (documented
semantic difference): Flink generates watermarks at the SOURCE, before
any SQL filter, so every topic_db event advances every consumer's clock.
Spark computes the watermark at the EventTimeWatermark node — and
Catalyst pushes deterministic filters (the keyword table's search
filter, the unique-user table's ``is_first``) BELOW it, so a consumer's
watermark advances only on events that survive its own filter; the
twins keep that.  Consequence: a window over a quiet table flushes on
that table's next event rather than on unrelated topic traffic.  Results
converge identically; only emission latency differs.  Each step keeps
its watermark in its own ``state/<step>/log``, so the keyword and
traffic steps share one query (``dws_pages``) and one page scan per
batch without sharing a watermark.

The unique-user query (``dws_uu``) reads the page route and cart_add as
one source-tagged union and runs the whole A3/A6 chain in each batch —
first-seen flags, windows, serving — as the reference's DWS UU apps keep
their first-visit state inside the window job.  Its window step keeps
one max event time per source tag (``uv``, ``cart``); its watermark is
the min over them, Spark's ``min`` policy over one input per source, so
a fast page stream never makes cart rows late — but a quiet source also
holds every UU window open until it moves (a source with no rows yet
holds the watermark where it stood).  That changes emission latency, not
results.  The first-seen step has no watermark, so it drops no row as
late; its state TTL follows the slowest source by the same ``min`` rule,
so a lagging source keeps its first-seen entries however far ahead the
other runs.  The window step still drops rows more than 5 s behind its
slowest source — the reference's keyed first-visit step likewise never
drops late events, its window does.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .. import schemas
from ..sinks.dim import DimWarehouse
from ..sinks.kafka import publish_batch
from ..sinks.serving import serving_foreach_batch
from ..operators.state import first_seen_batch
from ..operators.windows import OpenWindows
from ..sinks.upsert import KeyedTable
from ..sources import kafka as ksrc
from ..streaming import dws
from ..streaming.dim import dim_foreach_batch
from ..streaming.dwd_log import dwd_log_foreach_batch, parquet_route_writers
from ..streaming.dwd_trade import OrderDetailJoin, cart_add_transform, comment_info_transform
from ..streaming.overlap import concurrent_foreach_batch

PAGE_SCHEMA = StructType(
    [
        StructField("common", schemas.LOG_COMMON),
        StructField("page", schemas.LOG_PAGE),
        StructField("ts", LongType()),
    ]
)

# cart_add DWD output (dwd_trade.cart_add_transform select-list)
CART_ADD_SCHEMA = (
    "id string, user_id string, sku_id string, cart_price string, "
    "sku_num string, sku_name string, create_time string, ts long"
)

# checkpoint dirs that only older warehouse layouts write: one flags
# query and one window query per unique-user table, the flags query that
# fed dws_uu through a DWD table (its dws_uu checkpoint reads that one
# table, where dws_uu now reads two routes), one window query per page
# table (their batch ids restart at 0 under dws_pages, whose batches
# would overwrite their partials slots), and the state-store state of
# the stateful UU window query (a stateless query resuming it would lose
# its open windows); Warehouse refuses a root that holds them
OLD_CHECKPOINTS = (
    "dwd_uv_flags", "dwd_cart_uu_flags", "dwd_flags", "dws_uv", "dws_cart_uu",
    "dws_kw", "dws_traffic", os.path.join("dws_uu", "state"),
)


@dataclass
class WarehousePaths:
    root: str
    dim: str = field(init=False)
    dwd: str = field(init=False)
    dws: str = field(init=False)
    state: str = field(init=False)
    ckpt: str = field(init=False)

    def __post_init__(self):
        for name in ("dim", "dwd", "dws", "state", "ckpt"):
            setattr(self, name, os.path.join(self.root, name))
            os.makedirs(getattr(self, name), exist_ok=True)

    @property
    def page_dir(self) -> str:
        return os.path.join(self.dwd, "log", "page")


class Warehouse:
    """Composition root: wire raw streams through every layer."""

    def __init__(self, spark: SparkSession, paths: WarehousePaths, config_provider):
        self.spark = spark
        self.paths = paths
        self.config_provider = config_provider
        self.dim_wh = DimWarehouse(paths.dim)
        self.visitor_state = KeyedTable(os.path.join(paths.state, "visitor"), keys=["mid"])
        self.od_join = OrderDetailJoin(os.path.join(paths.dwd, "order_detail_join"), state_ttl_sec=None)
        # cart_add is an APPEND stream (each record is an increment event,
        # K2 append sink semantics) — NOT keyed: an insert and a later
        # update for the same cart id are two separate +quantity events
        self.cart_add_dir = os.path.join(paths.dwd, "cart_add")
        self.comment_table = KeyedTable(os.path.join(paths.dwd, "comment"), keys=["id"], version_col="ts")
        self.kw_serving = KeyedTable(os.path.join(paths.dws, "keyword"), keys=["stt", "keyword"])
        self.traffic_serving = KeyedTable(
            os.path.join(paths.dws, "traffic"), keys=["stt", "vc", "ch", "ar", "is_new"]
        )
        self.uv_serving = KeyedTable(os.path.join(paths.dws, "home_detail_uv"), keys=["stt"])
        self.cart_uu_serving = KeyedTable(os.path.join(paths.dws, "cart_add_uu"), keys=["stt"])
        self.first_seen_state = KeyedTable(os.path.join(paths.state, "first_seen"), keys=["key", "dt"])
        old = [d for d in OLD_CHECKPOINTS if os.path.isdir(os.path.join(paths.ckpt, d))]
        if old:
            raise RuntimeError(
                f"warehouse root {paths.root} holds checkpoints of an older "
                f"warehouse layout ({', '.join(old)}) that this one cannot "
                "resume — restart from a fresh warehouse root (README, "
                "Upgrade notes)"
            )

    # ---- DWD (db side): one foreachBatch handles dim + trade facts ------
    def db_foreach_batch(self):
        dim_fn = dim_foreach_batch(self.dim_wh, self.config_provider)

        def dim_then_comments(batch: DataFrame, batch_id: int) -> None:
            # comments look up this batch's dictionary, so they follow the
            # dim merge; merge() commits nothing for an empty result, and
            # an empty dictionary yields no comments through the inner join
            dim_fn(batch, batch_id)
            base_dic = self.dim_wh.read_dim(self.spark, "dim_base_dic")
            if base_dic is not None:
                dic = base_dic.select(
                    F.col("rowkey"), F.col("data").getItem("dic_name").alias("dic_name")
                )
                self.comment_table.merge(self.spark, comment_info_transform(batch, dic))

        def cart_append(batch: DataFrame, batch_id: int) -> None:
            # one file per batch id, so a replay overwrites its own rows
            # (an empty batch publishes an empty file)
            publish_batch(cart_add_transform(batch), self.cart_add_dir, batch_id)

        # the three steps write disjoint tables, so their jobs overlap
        return concurrent_foreach_batch(
            dim_then_comments, cart_append,
            lambda batch, _batch_id: self.od_join.process_batch(batch, self.spark),
        )

    # ---- DWD (log side): split + visitor fix → route dirs ---------------
    def log_foreach_batch(self):
        writers = parquet_route_writers(
            os.path.join(self.paths.dwd, "log"),
            ["err", "start", "display", "action", "page"],
        )
        return dwd_log_foreach_batch(self.visitor_state, writers)

    # ---- DWS: set-based window steps over the DWD streams --------------
    # Both queries are stateless: each window step runs its table's
    # append-window twin (streaming/dws.*_windows) against an OpenWindows
    # state under state/<step name>, and upserts the closed windows into
    # the serving tables.  dws_uu serves the unique-user tables (A3
    # home/detail UV, A6 cart-add UU) from source-tagged keys ("uv|<mid>",
    # "cart|<user_id>") first flagged against the first-seen state;
    # dws_pages runs the keyword (A1) and traffic (A2) steps side by side
    # over one persisted page batch.
    def uu_foreach_batch(self):
        windows = self._dws_foreach_batch("dws_uu", dws.unique_user_windows, [
            (self.uv_serving, lambda b: dws.uu_rows(b, "uv", "uv_ct")),
            (self.cart_uu_serving, lambda b: dws.uu_rows(b, "cart", "cart_add_uu_ct")),
        ])

        def fn(batch: DataFrame, batch_id: int) -> None:
            flags = first_seen_batch(batch, self.first_seen_state, self.spark, batch_id)
            try:
                windows(flags, batch_id)
            finally:
                # only after the serving merge: windows derived lazily
                # from the flags would otherwise recompute them against
                # the first-seen state first_seen_batch has rewritten
                flags.unpersist()

        return fn

    def flags_queries(self, available_now: bool = True):
        """Start the unique-user query ``dws_uu``, named after its first
        step: the whole first-seen chain, flags through serving."""
        os.makedirs(self.paths.page_dir, exist_ok=True)
        os.makedirs(self.cart_add_dir, exist_ok=True)
        pages = self.spark.readStream.schema(PAGE_SCHEMA).parquet(self.paths.page_dir)
        home_detail = pages.filter(F.col("page.page_id").isin("home", "good_detail")).select(
            dws.uu_key("uv", F.col("common.mid")).alias("key"), "ts"
        )
        carts = self.spark.readStream.schema(CART_ADD_SCHEMA).parquet(self.cart_add_dir)
        cart_users = carts.filter(F.col("user_id").isNotNull()).select(
            dws.uu_key("cart", F.col("user_id")).alias("key"),
            (F.col("ts") * 1000).alias("ts"),  # maxwell envelope ts is seconds
        )
        union = home_detail.unionByName(cart_users)
        return [self._start(union, self.uu_foreach_batch(), "dws_uu", available_now)]

    def pages_foreach_batch(self):
        return concurrent_foreach_batch(
            self._dws_foreach_batch("dws_kw", dws.keyword_windows, [self.kw_serving]),
            self._dws_foreach_batch("dws_traffic", dws.traffic_windows, [self.traffic_serving]),
        )

    def dws_queries(self, available_now: bool = True):
        """Start the page-window query ``dws_pages``."""
        os.makedirs(self.paths.page_dir, exist_ok=True)
        pages = self.spark.readStream.schema(PAGE_SCHEMA).parquet(self.paths.page_dir)
        return [self._start(pages, self.pages_foreach_batch(), "dws_pages", available_now)]

    def _dws_foreach_batch(self, name, windows, routes):
        state = OpenWindows(os.path.join(self.paths.state, name))
        serve = serving_foreach_batch(*routes)

        def fn(batch: DataFrame, batch_id: int) -> None:
            serve(windows(batch, batch_id, state), batch_id)

        return fn

    # ---- wiring ----------------------------------------------------------
    def _start(self, stream: DataFrame, body, name: str, available_now: bool):
        w = stream.writeStream.queryName(name).foreachBatch(body).option(
            "checkpointLocation", os.path.join(self.paths.ckpt, name)
        )
        return (w.trigger(availableNow=True) if available_now else w).start()

    def start(self, raw_db: DataFrame, raw_log: DataFrame, available_now: bool = True):
        return (
            self._start(ksrc.topic_db(raw_db, watermark=None), self.db_foreach_batch(), "db",
                        available_now),
            self._start(ksrc.topic_log(raw_log, watermark=None), self.log_foreach_batch(), "log",
                        available_now),
        )

    def run_available_now(self, raw_db: DataFrame, raw_log: DataFrame, timeout: int = 300):
        """Batch-drain the whole warehouse: ODS→DWD first, then the
        unique-user chain, then the page windows, over the
        freshly-written DWD streams (layered, like the reference's
        separate jobs).  A layer that outlives ``timeout`` seconds stops
        its queries and raises ``TimeoutError``, so the next layer never
        starts over its partial output."""
        for phase in (lambda: self.start(raw_db, raw_log, available_now=True),
                      lambda: self.flags_queries(available_now=True),
                      lambda: self.dws_queries(available_now=True)):
            queries = list(phase())
            for q in queries:
                if not q.awaitTermination(timeout):
                    for r in queries:
                        r.stop()
                    raise TimeoutError(
                        f"warehouse query {q.name!r} did not finish within "
                        f"{timeout} s; its layer was stopped"
                    )
