"""DWD trade pipelines — the four SQL DWD apps re-expressed Spark-first.

  cart_add      (DwdTradeCartAdd.java)              — stateless project/filter
  comment_info  (DwdInteractionCommentInfo.java)    — lookup join
  order_detail  (DwdTradeOrderDetail.java)          — 4-way join, incremental
                                                      view maintenance
  pay_suc       (DwdTradeOrderPaySucDetail.java)    — interval join + lookup

Join-state design (SURVEY §7.3): Flink holds both join sides in keyed
state with a 5 s idle TTL and emits retractions through upsert-kafka.
Here, each side lands in a keyed side table per micro-batch, and the join
result for *touched keys* is re-derived and MERGEd into the output keyed
by the left PK — incremental view maintenance that converges to the same
final relation, without eager retractions.  TTL ≈ pruning side tables by
event-time retention.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import project
from ..sinks.upsert import KeyedTable
from .overlap import run_concurrently

GMALL = "gmall"


# --------------------------------------------------------------------------
# cart_add — stateless (DwdTradeCartAdd.java:42-90)
# --------------------------------------------------------------------------

def cart_add_transform(topic_db: DataFrame) -> DataFrame:
    """Insert rows, or update rows whose sku_num increased; emit the
    incremental quantity (DwdTradeCartAdd.java:63-90)."""
    d = F.col("data")
    o = F.col("old")
    routed = project.route_filter(topic_db, database=GMALL, table="cart_info").filter(
        (F.col("type") == "insert")
        | (
            (F.col("type") == "update")
            & o.getItem("sku_num").isNotNull()
            & (d.getItem("sku_num").cast("long") > o.getItem("sku_num").cast("long"))
        )
    )
    return routed.select(
        d.getItem("id").alias("id"),
        d.getItem("user_id").alias("user_id"),
        d.getItem("sku_id").alias("sku_id"),
        d.getItem("cart_price").alias("cart_price"),
        project.cart_add_delta(
            d.getItem("sku_num"), o.getItem("sku_num"), F.col("type")
        ).cast("string").alias("sku_num"),
        d.getItem("sku_name").alias("sku_name"),
        d.getItem("create_time").alias("create_time"),
        F.col("ts"),
    )


# --------------------------------------------------------------------------
# comment_info — lookup join (DwdInteractionCommentInfo.java:41-100)
# --------------------------------------------------------------------------

def comment_info_transform(topic_db: DataFrame, base_dic: DataFrame) -> DataFrame:
    """comment_info inserts ⋈ base_dic (appraise → dic_name), inner —
    the FOR SYSTEM_TIME AS OF lookup join (:64-80) as broadcast
    stream-static join."""
    d = F.col("data")
    c = project.route_filter(
        topic_db, database=GMALL, table="comment_info"
    ).filter(F.col("type") == "insert").select(
        d.getItem("id").alias("id"),
        d.getItem("user_id").alias("user_id"),
        d.getItem("sku_id").alias("sku_id"),
        d.getItem("appraise").alias("appraise"),
        d.getItem("comment_txt").alias("comment_txt"),
        F.col("ts"),
    )
    return c.join(F.broadcast(base_dic), c.appraise == base_dic.rowkey, "inner").select(
        "id", "user_id", "sku_id", "appraise",
        F.col("dic_name").alias("appraise_name"), "comment_txt", "ts",
    )


# --------------------------------------------------------------------------
# order_detail — 4-way join with incremental view maintenance
# (DwdTradeOrderDetail.java:95-193)
# --------------------------------------------------------------------------

class OrderDetailJoin:
    """Incremental maintenance of
    order_detail ⋈ order_info ⟕ order_detail_activity ⟕ order_detail_coupon.

    Each side table is keyed; a micro-batch merges its slice into each
    side, then re-joins only the order-detail keys touched by the batch
    and MERGEs the result keyed by od.id (the upsert-kafka PK, :86)."""

    def __init__(
        self,
        root: str,
        state_ttl_sec: int | None = None,
        maintenance_every: int = 64,
        max_rows_per_bucket: int = 1_000_000,
    ):
        self.od = KeyedTable(f"{root}/od", keys=["id"], version_col="ts")
        self.oi = KeyedTable(f"{root}/oi", keys=["id"], version_col="ts")
        self.oda = KeyedTable(f"{root}/oda", keys=["order_detail_id"], version_col="ts")
        self.odc = KeyedTable(f"{root}/odc", keys=["order_detail_id"], version_col="ts")
        self.out = KeyedTable(f"{root}/out", keys=["id"], version_col="ts")
        # T6 — idle-state TTL (setIdleStateRetention, DwdTradeOrderDetail.java:32):
        # side-table rows older than (max seen ts - ttl) can no longer be
        # matched and are pruned, bounding join state exactly like Flink's
        # 5 s retention.  None = keep forever.
        self.state_ttl_sec = state_ttl_sec
        self._max_ts = 0
        # state lifecycle cadence: every N micro-batches, grow any
        # overfilled table's bucket count (keeps merges O(touched) as
        # state grows 100x) and physically reclaim TTL-expired bytes.
        # Amortized cost is 1/N of a count job + the occasional rewrite;
        # 0 disables maintenance.
        self.maintenance_every = maintenance_every
        self.max_rows_per_bucket = max_rows_per_bucket
        self._batch_n = 0
        self._compacted_horizon: dict[str, int] = {}

    def _prune_ttl(self, spark: SparkSession) -> None:
        """Advance the logical TTL horizon on every side table.  Expired
        rows vanish from read() immediately (exact join semantics) at
        zero I/O; their bytes are reclaimed lazily when a later merge
        rewrites their bucket — compaction-style cleanup, not the former
        four full-table rewrites per micro-batch (O(total state))."""
        if not self.state_ttl_sec or not self._max_ts:
            return
        horizon = self._max_ts - self.state_ttl_sec
        for table in (self.od, self.oi, self.oda, self.odc):
            table.set_ttl_horizon(horizon)

    def _maintain(self, spark: SparkSession) -> None:
        """Periodic state lifecycle: called once per micro-batch, acts
        every ``maintenance_every`` batches.  maybe_rescale keeps the
        incremental-merge contract as state grows (rows/bucket stays
        bounded, so a merge rewrites a bounded slice, not the table);
        compact reclaims TTL-expired bytes, but only for tables whose
        horizon actually advanced since their last compaction (an
        unchanged horizon has nothing new to reclaim, and a blanket
        rewrite would be O(total state) for nothing)."""
        self._batch_n += 1
        if not self.maintenance_every or self._batch_n % self.maintenance_every:
            return
        for table in (self.od, self.oi, self.oda, self.odc, self.out):
            table.maybe_rescale(spark, self.max_rows_per_bucket)
            h = table.ttl_horizon
            if h is not None and self._compacted_horizon.get(table.path) != h:
                table.compact(spark)
                self._compacted_horizon[table.path] = h

    @staticmethod
    def _slice(topic_db: DataFrame, table: str, fields: dict[str, str]) -> DataFrame:
        d = F.col("data")
        return project.route_filter(topic_db, database=GMALL, table=table).filter(
            F.col("type") == "insert"
        ).select(*[d.getItem(src).alias(dst) for dst, src in fields.items()], F.col("ts"))

    def process_batch(self, batch: DataFrame, spark: SparkSession) -> None:
        self._slices: list[DataFrame] = []
        try:
            self._process_batch(batch, spark)
        finally:
            for sl in self._slices:
                sl.unpersist()
            self._slices = []
            # the cadence counter ticks on every batch, including the
            # no-state early returns, so maintenance timing is stable
            self._maintain(spark)

    def _process_batch(self, batch: DataFrame, spark: SparkSession) -> None:
        od_new = self._slice(
            batch, "order_detail",
            {
                "id": "id", "order_id": "order_id", "sku_id": "sku_id",
                "sku_name": "sku_name", "order_price": "order_price",
                "sku_num": "sku_num", "create_time": "create_time",
                "split_total_amount": "split_total_amount",
                "split_activity_amount": "split_activity_amount",
                "split_coupon_amount": "split_coupon_amount",
            },
        )
        oi_new = self._slice(
            batch, "order_info",
            {"id": "id", "user_id": "user_id", "province_id": "province_id"},
        )
        oda_new = self._slice(
            batch, "order_detail_activity",
            {
                "order_detail_id": "order_detail_id", "activity_id": "activity_id",
                "activity_rule_id": "activity_rule_id",
            },
        )
        odc_new = self._slice(
            batch, "order_detail_coupon",
            {"order_detail_id": "order_detail_id", "coupon_id": "coupon_id"},
        )
        # ONE driver action for all four sides: per-(table, state bucket)
        # row count + max ts in a single aggregation over the four slices.
        # This job does double duty: it is the side merges' touched-bucket
        # probe (each table's own _bucket_expr over its slice, grouped),
        # so the merges below skip their per-table probe collect — per
        # micro-batch driver jobs drop from ~9 to ~6 (was up to 12 in r3)
        routes = {
            "order_detail": (self.od, od_new),
            "order_info": (self.oi, oi_new),
            "order_detail_activity": (self.oda, oda_new),
            "order_detail_coupon": (self.odc, odc_new),
        }
        # persist each slice from the probe through the side writes AND
        # the touched-keys/derive phase below (which re-reads od_new/
        # oi_new/oda_new/odc_new): the probe job materializes all four
        # into cache once; everything after reuses it instead of
        # re-decoding the micro-batch JSON.  process_batch's finally
        # unpersists them once the whole batch (incl. the out merge) is
        # done.
        self._slices = [new for _, new in routes.values()]
        for new in self._slices:
            new.persist()
        probe = None
        for name, (table, new) in routes.items():
            sl = new.select(
                F.lit(name).alias("t"),
                table._bucket_expr().alias("b"),
                F.col("ts").cast("long").alias("ts"),
            )
            probe = sl if probe is None else probe.unionByName(sl)
        stats: dict[str, tuple[int, int, set[str]]] = {}
        for r in probe.groupBy("t", "b").agg(
            F.count(F.lit(1)).alias("n"), F.max("ts").alias("mx")
        ).collect():
            n, mx, touched = stats.get(r["t"], (0, 0, set()))
            stats[r["t"]] = (
                n + r["n"], max(mx, r["mx"] or 0), touched | {str(r["b"])}
            )
        # the four side tables are independent: merge them concurrently
        # (the out merge below reads all four, so it waits for them)
        run_concurrently(spark, [
            lambda t=table, df=new, b=stats[name][2]: t.merge(spark, df, touched_buckets=b)
            for name, (table, new) in routes.items()
            if name in stats
        ])
        self._max_ts = max([self._max_ts, *(mx for _, mx, _ in stats.values())])
        self._prune_ttl(spark)

        od_all = self.od.read(spark)
        if od_all is None:
            return
        oi_all = self.oi.read(spark)
        oda_all = self.oda.read(spark)
        odc_all = self.odc.read(spark)
        if oi_all is None:
            return

        # keys touched this batch: new od rows, or new right-side rows
        touched = od_new.select("id")
        touched = touched.union(
            oda_new.select(F.col("order_detail_id").alias("id"))
        ).union(odc_new.select(F.col("order_detail_id").alias("id")))
        touched = touched.union(
            od_all.join(oi_new.select(F.col("id").alias("order_id")), "order_id").select("id")
        ).distinct()

        od_t = od_all.join(touched, "id")
        # build stepwise to tolerate absent right sides
        j = od_t.alias("od").join(
            oi_all.alias("oi"), F.col("od.order_id") == F.col("oi.id"), "inner"
        )
        if oda_all is not None:
            j = j.join(
                oda_all.alias("oda"), F.col("oda.order_detail_id") == F.col("od.id"), "left"
            )
        else:
            j = j.withColumn("activity_id", F.lit(None).cast("string")).withColumn(
                "activity_rule_id", F.lit(None).cast("string")
            )
        if odc_all is not None:
            j = j.join(
                odc_all.alias("odc"), F.col("odc.order_detail_id") == F.col("od.id"), "left"
            )
        else:
            j = j.withColumn("coupon_id", F.lit(None).cast("string"))
        result = j.select(
            F.col("od.id").alias("id"),
            F.col("od.order_id").alias("order_id"),
            F.col("od.sku_id").alias("sku_id"),
            F.col("oi.user_id").alias("user_id"),
            F.col("oi.province_id").alias("province_id"),
            F.col("activity_id"),
            F.col("activity_rule_id"),
            F.col("coupon_id"),
            F.col("od.sku_name").alias("sku_name"),
            F.col("od.order_price").alias("order_price"),
            F.col("od.sku_num").alias("sku_num"),
            F.col("od.create_time").alias("create_time"),
            F.col("od.split_total_amount").alias("split_total_amount"),
            F.col("od.split_activity_amount").alias("split_activity_amount"),
            F.col("od.split_coupon_amount").alias("split_coupon_amount"),
            F.col("od.ts").alias("ts"),
        )
        # unconditional: merge() itself skips the commit when its
        # touched-bucket probe (one tiny job it runs anyway) comes back
        # empty — no separate result.limit(1).count() driver job
        self.out.merge(spark, result)

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        def fn(batch: DataFrame, batch_id: int) -> None:
            self.process_batch(batch, batch.sparkSession)

        return fn


# --------------------------------------------------------------------------
# pay_suc — native interval join + lookup (DwdTradeOrderPaySucDetail.java)
# --------------------------------------------------------------------------

def pay_suc_transform(
    topic_db: DataFrame, order_detail: DataFrame, base_dic: DataFrame
) -> DataFrame:
    """Payment-success stream: 1602 transitions (:190-195), interval-joined
    to order_detail within [-15 min, +5 s] (:141), left-lookup to base_dic
    on payment_type (:90-113).

    Native Structured Streaming: stream-stream interval join with
    watermarks on both sides bounds state exactly like the 15 s idle TTL
    intends (:31).  Works identically on bounded frames in tests.
    """
    d = F.col("data")
    pay = (
        project.route_filter(topic_db, database=GMALL, table="payment_info")
        .filter(
            (F.col("type") == "update")
            & F.col("old").getItem("payment_status").isNotNull()
            & (d.getItem("payment_status") == "1602")
        )
        .select(
            d.getItem("user_id").alias("user_id"),
            d.getItem("order_id").alias("order_id"),
            d.getItem("payment_type").alias("payment_type"),
            d.getItem("callback_time").alias("callback_time"),
            F.col("row_time").alias("pay_time"),
            F.col("ts").alias("pay_ts"),
        )
    )
    od = order_detail.select(
        F.col("id").alias("od_id"),
        F.col("order_id").alias("od_order_id"),
        F.col("sku_id"),
        F.col("sku_name"),
        F.col("order_price"),
        F.col("sku_num"),
        F.col("split_total_amount"),
        F.col("row_time").alias("od_time"),
    )
    joined = pay.join(
        od,
        (F.col("order_id") == F.col("od_order_id"))
        & (F.col("pay_time") >= F.col("od_time") - F.expr("INTERVAL 15 MINUTES"))
        & (F.col("pay_time") <= F.col("od_time") + F.expr("INTERVAL 5 SECONDS")),
        "inner",
    )
    out = joined.join(
        F.broadcast(base_dic), F.col("payment_type") == base_dic.rowkey, "left"
    )
    return out.select(
        F.col("od_id").alias("order_detail_id"),
        "order_id", "user_id", "sku_id", "sku_name",
        "payment_type",
        F.col("dic_name").alias("payment_type_name"),
        "callback_time", "order_price", "sku_num", "split_total_amount",
        F.col("pay_ts").alias("ts"),
    )
