"""Warehouse workload: drain generated topics through every layer.

Each pass writes the seeded inputs into a fresh warehouse root and calls
``Warehouse(...).run_available_now`` — ODS → DIM/DWD, then the first-seen
flags, then DWS — and afterwards checks every output against the
generator's ground truth.  The query handles the warehouse starts are
kept (the methods are wrapped on the instance only), and Spark's own
progress records of every micro-batch are copied when the drain ends, so
they can be read after the session stops.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import functions as F

import gen

# ODS shape: one small topic_db CDC micro-batch beside one bulk topic_log
# micro-batch.  Each topic_db batch costs about 10 s of fixed per-batch
# work whatever its size, so a second one would cost every run 10 s more
# (see README.md, "Limits").
SHAPE = dict(log_events=12_000, log_files=1, devices=4_000, db_batches=1,
             orders=60, carts=50, comments=30, skus=80)
WARMUP_SHAPE = dict(log_events=300, log_files=1, devices=100, db_batches=1,
                    orders=3, carts=3, comments=3, skus=6)
# self-test size: two CDC slices, so late activity/coupon rows still occur
TINY_SHAPE = dict(log_events=200, log_files=1, devices=40, db_batches=2,
                  orders=3, carts=3, comments=3, skus=6)


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


class Drain:
    """One ``run_available_now`` over one copy of the inputs."""

    def __init__(self, spark, inputs: gen.WarehouseInputs, root: str, config) -> None:
        from flink_realtime_dw4_0_spark.streaming.warehouse import Warehouse, WarehousePaths

        self.spark = spark
        self.inputs = inputs
        self.src_db, self.src_log = inputs.write(root)
        self.wh = Warehouse(spark, WarehousePaths(os.path.join(root, "wh")), lambda s: config)
        self.queries: dict[str, list] = {}
        self.progress: dict[str, list[list[dict]]] = {}  # phase -> per query
        self.marks: dict[str, float] = {}
        for phase in ("start", "flags_queries", "dws_queries"):
            self._keep(phase)

    def _keep(self, phase: str) -> None:
        orig = getattr(self.wh, phase)

        def started(*a, **k):
            self.marks[phase] = time.perf_counter()
            qs = orig(*a, **k)
            self.queries[phase] = list(qs)
            return qs

        setattr(self.wh, phase, started)

    def _sources(self):
        from flink_realtime_dw4_0_spark.sources.kafka import file_json_raw

        return (file_json_raw(self.spark, self.src_db, max_files=1),
                file_json_raw(self.spark, self.src_log, max_files=1))

    def warm(self) -> None:
        """Drain ODS → DIM/DWD only.  A cold session's first ODS batches
        take about twice their steady time; the flags and DWS phases
        start fresh queries on every drain and warm far less."""
        for q in self.wh.start(*self._sources()):
            q.awaitTermination(300)

    def run(self) -> float:
        t0 = time.perf_counter()
        self.wh.run_available_now(*self._sources())
        self.marks["end"] = time.perf_counter()
        self.marks["begin"] = t0
        self.progress = {phase: [_progress(q) for q in qs] for phase, qs in self.queries.items()}
        return self.marks["end"] - t0

    @property
    def db_progress(self) -> list[dict]:
        return self.progress["start"][0]

    @property
    def log_progress(self) -> list[dict]:
        return self.progress["start"][1]

    def batches(self) -> list[dict]:
        """Progress of every micro-batch of every query this drain ran."""
        return [p for qs in self.progress.values() for ps in qs for p in ps]

    def db_batch_ms(self) -> list[float]:
        return [p["durationMs"]["triggerExecution"] for p in self.db_progress
                if p["numInputRows"] > 0]

    # ------------------------------------------------------------- checks
    def check(self) -> list[tuple[str, bool, str]]:
        """(name, ok, detail) for every output the ground truth covers."""
        spark, wh, truth = self.spark, self.wh, self.inputs.truth
        out = []

        def cmp(name, got, want):
            ok = got == want
            detail = "" if ok else _diff(got, want)
            out.append((name, ok, detail))

        def rows(df, *cols):
            return [] if df is None else df.select(*cols).collect()

        def millis(c):
            return F.expr(f"unix_millis({c})").cast("string")

        # The db batch is persisted, so its numInputRows counts each row
        # once.  The log batch is scanned more than once and Spark counts
        # every scan: its rows are checked through the routes below
        # (every log line is a page or a start record).
        cmp("sources.db_rows_in", sum(p["numInputRows"] for p in self.db_progress),
            truth["db_rows"])

        sku = rows(wh.dim_wh.read_dim(spark, "dim_sku_info"), "rowkey", "data")
        cmp("dim.sku_info", {r["rowkey"]: dict(r["data"]) for r in sku}, truth["dim_sku_info"])
        dic = rows(wh.dim_wh.read_dim(spark, "dim_base_dic"), "rowkey", "data")
        cmp("dim.base_dic", {r["rowkey"]: r["data"]["dic_name"] for r in dic},
            truth["dim_base_dic"])

        cols = ["order_id", "user_id", "province_id", "activity_id", "coupon_id",
                "split_total_amount"]
        od = rows(wh.od_join.out.read(spark), "id", *cols)
        cmp("dwd_trade.order_detail_join", {r["id"]: {c: r[c] for c in cols} for r in od},
            truth["order_detail_join"])

        cart = spark.read.parquet(wh.cart_add_dir).agg(
            F.count(F.lit(1)).alias("rows"), F.sum(F.col("sku_num").cast("long")).alias("units"))
        cmp("dwd_trade.cart_add", cart.first().asDict(), truth["cart_add"])
        com = rows(wh.comment_table.read(spark), "id", "appraise_name")
        cmp("dwd_trade.comment", {r["id"]: r["appraise_name"] for r in com}, truth["comment"])

        log_root = os.path.join(wh.paths.dwd, "log")
        routes = {r: (spark.read.parquet(os.path.join(log_root, r)).count()
                      if os.path.isdir(os.path.join(log_root, r)) else 0)
                  for r in truth["routes"]}
        cmp("dwd_log.routes", routes, truth["routes"])
        cmp("sources.log_rows_in", routes["page"] + routes["start"], truth["log_rows"])

        tr = rows(wh.traffic_serving.read(spark), millis("stt").alias("stt"),
                  "vc", "ch", "ar", "is_new", "pv_ct")
        cmp("dws.traffic_pv", {"|".join((r["stt"], r["vc"], r["ch"], r["ar"], r["is_new"])):
                               r["pv_ct"] for r in tr}, truth["traffic_pv"])
        kw = rows(wh.kw_serving.read(spark), millis("stt").alias("stt"), "keyword",
                  "keyword_count")
        cmp("dws.keyword", {f"{r['stt']}|{r['keyword']}": r["keyword_count"] for r in kw},
            truth["keyword"])
        uv = rows(wh.uv_serving.read(spark), millis("stt").alias("stt"), "uv_ct")
        cmp("dws.home_detail_uv", {r["stt"]: r["uv_ct"] for r in uv}, truth["home_detail_uv"])
        uu = rows(wh.cart_uu_serving.read(spark), millis("stt").alias("stt"), "cart_add_uu_ct")
        cmp("dws.cart_add_uu", {r["stt"]: r["cart_add_uu_ct"] for r in uu},
            truth["cart_add_uu"])
        return out


def _diff(got, want) -> str:
    """The keys a dict result is missing, has extra or has wrong."""
    if not (isinstance(got, dict) and isinstance(want, dict)):
        return f"got {_short(got)} want {_short(want)}"
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    wrong = {k: (got[k], want[k]) for k in sorted(set(got) & set(want)) if got[k] != want[k]}
    return (f"missing {_short(missing)} extra {_short(extra)} "
            f"wrong (got, want) {_short(wrong)}")


def _short(v) -> str:
    s = json.dumps(v, sort_keys=True, default=str, ensure_ascii=False)
    return s if len(s) < 300 else s[:300] + "..."


def dim_config(spark):
    from flink_realtime_dw4_0_spark import schemas

    return spark.createDataFrame(gen.DIM_CONFIG, schemas.TABLE_PROCESS_DIM)


# ------------------------------------------------------------ per-layer view
def layer_metrics(tracer, drain: Drain, event_log: dict) -> dict:
    """Per-layer metrics of one traced drain (see README for the map)."""
    from spans import jobs_per_batch

    st = tracer.self_times()
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return s["end"] - s["start"]

    def total_ms(name):
        return 1000 * sum(dur(s) for s in spans if s["name"] == name)

    def median_ms(name, self_time=False):
        v = [1000 * (st[s["id"]] if self_time else dur(s)) for s in spans if s["name"] == name]
        return statistics.median(v) if v else 0.0

    db_prog = [p for p in drain.db_progress if p["numInputRows"] > 0]
    log_prog = [p for p in drain.log_progress if p["numInputRows"] > 0]
    m: dict[str, float] = {}
    m["sources.rows_in"] = sum(p["numInputRows"] for p in db_prog + log_prog)
    m["sources.list_ms"] = statistics.median(
        p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0)
        for p in db_prog)
    for side, prog in (("db", db_prog), ("log", log_prog)):
        jobs = jobs_per_batch(event_log, prog[0]["id"])
        m[f"warehouse.{side}_jobs_per_batch"] = (
            sum(jobs.get(p["batchId"], 0) for p in prog) / len(prog))
    m["warehouse.db_self_ms"] = median_ms("warehouse.db_batch", self_time=True)
    m["warehouse.plan_ms"] = statistics.median(p["durationMs"].get("queryPlanning", 0)
                                               for p in db_prog)
    m["warehouse.commit_ms"] = statistics.median(
        p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
        for p in db_prog)
    mk = drain.marks
    m["warehouse.ods_phase_s"] = mk["flags_queries"] - mk["begin"]
    m["warehouse.flags_phase_s"] = mk["dws_queries"] - mk["flags_queries"]
    m["warehouse.dws_phase_s"] = mk["end"] - mk["dws_queries"]
    # the ODS root spans should account for Spark's own addBatch time
    roots = [dur(s) for s in spans if s["name"] in ("warehouse.db_batch", "warehouse.log_batch")]
    add = [p["durationMs"].get("addBatch", 0) / 1000 for p in db_prog + log_prog]
    m["warehouse.addbatch_cover"] = sum(roots) / sum(add) if sum(add) else 0.0

    m["dim.batch_ms"] = median_ms("dim.batch")
    m["dim.merge_ms"] = total_ms("dim.merge")
    m["dim.merges"] = len(tracer.by_name("dim.merge"))
    m["dim.rows"] = sum(len(v) for k, v in drain.inputs.truth.items() if k.startswith("dim_"))

    m["dwd_trade.join_ms"] = 1000 * sum(st[s["id"]] for s in tracer.by_name("dwd_trade.join"))
    m["dwd_trade.out_rows"] = len(drain.inputs.truth["order_detail_join"])

    m["dwd_log.batch_ms"] = median_ms("dwd_log.batch")
    m["state.visitor_fix_ms"] = total_ms("state.visitor_fix")
    m["dwd_log.route_write_ms"] = total_ms("dwd_log.route_write")
    m["dwd_log.route_rows"] = sum(drain.inputs.truth["routes"].values())

    merges = tracer.by_name("upsert.merge")
    m["upsert.merge_ms"] = 1000 * sum(st[s["id"]] for s in merges)
    m["upsert.merges"] = len(merges)
    m["upsert.bytes_written"] = tracer.counts["upsert.bytes_written"]
    m["upsert.read_calls"] = tracer.counts["upsert.read_calls"]

    def state(phase, key):
        return sum(op.get(key, 0) for ps in drain.progress[phase] for p in ps[-1:]
                   for op in p.get("stateOperators", []))

    m["flags.state_rows"] = state("flags_queries", "numRowsTotal")
    m["dws.state_rows"] = state("dws_queries", "numRowsTotal")
    m["dws.state_bytes"] = state("dws_queries", "memoryUsedBytes")
    m["dws.rows_dropped_late"] = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for ps in drain.progress["flags_queries"] + drain.progress["dws_queries"]
        for p in ps for op in p.get("stateOperators", []))
    m["serving.merge_ms"] = 1000 * sum(
        dur(s) for s in merges
        if s["parent"] is not None and by_id[s["parent"]]["name"] == "serving.batch")
    return m
