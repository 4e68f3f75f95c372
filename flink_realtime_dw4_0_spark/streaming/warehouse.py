"""Full layered warehouse — the reference's whole topology as one wiring.

ODS (raw topic_db / topic_log streams)
  → DIM  (config-driven dim MERGE warehouse)          [DimAPP]
  → DWD  (log split + visitor fix; trade fact tables) [DwdBaseLog, Dwd*]
  → DWS  (tumbling-window summaries → serving tables) [Constant.java:40-47]

Layer boundaries match the reference: DWD materializes detail streams
(parquet dirs standing in for Kafka topics), and DWS jobs *consume the DWD
output as their own streams* — so windowed aggregations run as native
Structured Streaming aggs with watermarks (cross-batch windows accumulate
correctly; a foreachBatch-side agg would overwrite partial windows).

All sinks are keyed MERGEs, so the whole graph is replay-idempotent.

Watermark-advance delta vs Flink (documented semantic difference): Flink
generates watermarks at the SOURCE, before any SQL filter, so every
topic_db event advances every consumer's clock.  Spark computes the
watermark at the EventTimeWatermark node — and Catalyst pushes
deterministic route filters (`table='cart_info'` etc.) BELOW it, so a
consumer's watermark advances only on events that survive its own filter.
Consequence: a window over a quiet table flushes on that table's next
event (or the query's no-data batch) rather than on unrelated topic
traffic.  Results converge identically; only emission latency differs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .. import schemas
from ..sinks.dim import DimWarehouse
from ..sinks.serving import serving_foreach_batch
from ..sinks.upsert import KeyedTable
from ..sources import kafka as ksrc
from ..streaming import dws
from ..streaming.dim import dim_foreach_batch
from ..streaming.dwd_log import dwd_log_foreach_batch, parquet_route_writers
from ..streaming.dwd_trade import OrderDetailJoin, cart_add_transform, comment_info_transform
from ..streaming.overlap import run_concurrently

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
        self.uv_flags_dir = os.path.join(paths.dwd, "uv_flags")
        self.cart_uu_serving = KeyedTable(os.path.join(paths.dws, "cart_add_uu"), keys=["stt"])
        self.cart_uu_flags_dir = os.path.join(paths.dwd, "cart_uu_flags")

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

        def cart_append(batch: DataFrame) -> None:
            cart = cart_add_transform(batch)
            if cart.limit(1).count():
                cart.write.mode("append").parquet(self.cart_add_dir)

        def fn(batch: DataFrame, batch_id: int) -> None:
            # the three branches write disjoint tables, so their jobs
            # overlap; every branch ends before the batch is released
            batch.persist()
            try:
                run_concurrently(batch.sparkSession, [
                    lambda: dim_then_comments(batch, batch_id),
                    lambda: cart_append(batch),
                    lambda: self.od_join.process_batch(batch, self.spark),
                ])
            finally:
                batch.unpersist()

        return fn

    # ---- DWD (log side): split + visitor fix → route dirs ---------------
    def log_foreach_batch(self):
        writers = parquet_route_writers(
            os.path.join(self.paths.dwd, "log"),
            ["err", "start", "display", "action", "page"],
        )
        return dwd_log_foreach_batch(self.visitor_state, writers)

    # ---- DWD2: A3's first-seen flags as their own layered table ---------
    # Spark forbids redefining a watermark downstream of a watermarked
    # stateful op, so first_seen-with-TTL cannot feed a windowed agg in
    # ONE query (first_seen(ttl_ms=None) can, at the cost of unbounded
    # state).  The warehouse keeps BOTH the TTL and the windows by
    # layering the flags through a DWD table — exactly the reference's
    # job-per-layer topology (flags job ≈ DwdBaseLog keyed state; window
    # job ≈ the planned DWS app).
    def _flags_query(self, keyed: DataFrame, flags_dir: str, name: str, available_now: bool):
        from ..operators.state import first_seen

        w = (
            first_seen(keyed, delay="5 seconds")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", flags_dir)
            .option("checkpointLocation", os.path.join(self.paths.ckpt, name))
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def flags_queries(self, available_now: bool = True):
        os.makedirs(self.paths.page_dir, exist_ok=True)
        os.makedirs(self.cart_add_dir, exist_ok=True)
        page_stream = self.spark.readStream.schema(PAGE_SCHEMA).parquet(self.paths.page_dir)
        home_detail = page_stream.filter(
            F.col("page.page_id").isin("home", "good_detail")
        ).select(F.col("common.mid").alias("key"), "ts")
        cart_stream = self.spark.readStream.schema(CART_ADD_SCHEMA).parquet(self.cart_add_dir)
        cart_users = cart_stream.filter(F.col("user_id").isNotNull()).select(
            F.col("user_id").alias("key"),
            (F.col("ts") * 1000).alias("ts"),  # maxwell envelope ts is seconds
        )
        return [
            self._flags_query(home_detail, self.uv_flags_dir, "dwd_uv_flags", available_now),
            self._flags_query(cart_users, self.cart_uu_flags_dir, "dwd_cart_uu_flags", available_now),
        ]

    # ---- DWS: native streaming window aggs over the DWD streams ---------
    def dws_queries(self, available_now: bool = True):
        os.makedirs(self.paths.page_dir, exist_ok=True)
        os.makedirs(self.uv_flags_dir, exist_ok=True)
        page_stream = (
            self.spark.readStream.schema(PAGE_SCHEMA)
            .parquet(self.paths.page_dir)
            .withColumn("row_time", F.timestamp_millis("ts"))
            .withWatermark("row_time", "5 seconds")
        )
        def flags_stream(flags_dir: str) -> DataFrame:
            return (
                self.spark.readStream.schema("key string, dt string, ts long, is_first int")
                .parquet(flags_dir)
                .withColumn("row_time", F.timestamp_millis("ts"))
                .withWatermark("row_time", "5 seconds")
            )

        os.makedirs(self.cart_uu_flags_dir, exist_ok=True)
        specs = [
            (dws.keyword_page_view(page_stream), self.kw_serving, "dws_kw"),
            (dws.traffic_vc_ch_ar_is_new(page_stream), self.traffic_serving, "dws_traffic"),
            (dws.home_detail_uv(flags_stream(self.uv_flags_dir)), self.uv_serving, "dws_uv"),
            (
                dws.cart_add_uu(flags_stream(self.cart_uu_flags_dir)),
                self.cart_uu_serving,
                "dws_cart_uu",
            ),
        ]
        handles = []
        for agg, table, name in specs:
            w = (
                agg.writeStream.outputMode("append")
                .foreachBatch(serving_foreach_batch(table))
                .option("checkpointLocation", os.path.join(self.paths.ckpt, name))
            )
            if available_now:
                w = w.trigger(availableNow=True)
            handles.append(w.start())
        return handles

    # ---- wiring ----------------------------------------------------------
    def start(self, raw_db: DataFrame, raw_log: DataFrame, available_now: bool = True):
        db_q = (
            ksrc.topic_db(raw_db, watermark=None)
            .writeStream.foreachBatch(self.db_foreach_batch())
            .option("checkpointLocation", os.path.join(self.paths.ckpt, "db"))
        )
        log_q = (
            ksrc.topic_log(raw_log, watermark=None)
            .writeStream.foreachBatch(self.log_foreach_batch())
            .option("checkpointLocation", os.path.join(self.paths.ckpt, "log"))
        )
        if available_now:
            db_q = db_q.trigger(availableNow=True)
            log_q = log_q.trigger(availableNow=True)
        return db_q.start(), log_q.start()

    def run_available_now(self, raw_db: DataFrame, raw_log: DataFrame, timeout: int = 300):
        """Batch-drain the whole warehouse: ODS→DWD first, then DWS over
        the freshly-written DWD stream (layered, like the reference's
        separate jobs)."""
        for q in self.start(raw_db, raw_log, available_now=True):
            q.awaitTermination(timeout)
        for q in self.flags_queries(available_now=True):
            q.awaitTermination(timeout)
        for q in self.dws_queries(available_now=True):
            q.awaitTermination(timeout)
