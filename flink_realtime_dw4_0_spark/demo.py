"""Runnable end-to-end demo: `python -m flink_realtime_dw4_0_spark.demo`.

Generates a small deterministic gmall-shaped dataset (topic_db CDC rows +
topic_log events per FIXTURES.md), drains it through the full layered
warehouse (DIM → DWD → DWS), and prints every resulting table.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from . import schemas
from .session import get_spark
from .sinks.upsert import KeyedTable
from .streaming.warehouse import Warehouse, WarehousePaths

DAY1 = 1_704_067_200_000  # 2024-01-01 UTC (millis)


def _mx(table, typ, data, old=None, ts=DAY1 // 1000):
    return json.dumps(
        {"database": "gmall", "table": table, "type": typ, "data": data,
         "old": old or {}, "ts": ts}
    )


def _log(mid, is_new, ts, page=None, **extra):
    rec = {
        "common": {"mid": mid, "is_new": is_new, "vc": "v3", "ch": "app",
                   "ar": "110000", "uid": mid, "sid": f"s-{mid}"},
        "ts": ts,
    }
    if page:
        rec["page"] = page
    rec.update(extra)
    return json.dumps(rec)


def fixture_db_lines() -> list[str]:
    lines = [
        _mx("base_dic", "bootstrap-insert", {"dic_code": "1201", "dic_name": "GoodReview"}),
        _mx("base_dic", "bootstrap-insert", {"dic_code": "1101", "dic_name": "Alipay"}),
        _mx("cart_info", "insert", {"id": "c1", "user_id": "u1", "sku_id": "s1",
                                    "sku_num": "2", "cart_price": "19.9",
                                    "sku_name": "widget", "create_time": "2024-01-01 08:00:00"}),
        _mx("cart_info", "update", {"id": "c1", "sku_num": "5"}, old={"sku_num": "2"}),
        _mx("order_detail", "insert", {"id": "d1", "order_id": "o1", "sku_id": "s1",
                                       "sku_name": "widget", "order_price": "19.9",
                                       "sku_num": "5", "create_time": "t",
                                       "split_total_amount": "99.5",
                                       "split_activity_amount": "5",
                                       "split_coupon_amount": "0"}),
        _mx("order_info", "insert", {"id": "o1", "user_id": "u1", "province_id": "11"}),
        _mx("comment_info", "insert", {"id": "m1", "user_id": "u1", "sku_id": "s1",
                                       "appraise": "1201", "comment_txt": "great widget"}),
        # far-future cart add: advances the cart-UU (A6) watermark so the
        # first window flushes (same heartbeat rule as the log fixture)
        _mx("cart_info", "insert", {"id": "c9", "user_id": "u9", "sku_id": "s9",
                                    "sku_num": "1", "cart_price": "1.0",
                                    "sku_name": "hb", "create_time": "2024-01-01 08:10:00"},
            ts=DAY1 // 1000 + 600),
    ]
    return lines


def fixture_log_lines() -> list[str]:
    page = {"page_id": "good_list", "during_time": 3000, "item": "fast widget",
            "item_type": "keyword", "last_page_id": "search"}
    home = {"page_id": "home", "during_time": 1200}
    return [
        _log("mid1", "1", DAY1 + 1_000, page=page),
        _log("mid2", "1", DAY1 + 2_000, page=page),
        _log("mid1", "1", DAY1 + 3_000, page=home),
        _log("mid3", "0", DAY1 + 4_000, page=home,
             displays=[{"item": "s1", "item_type": "sku", "pos_id": "p1"}]),
        # far-future record so watermarked DWS windows flush.  NOTE it must
        # pass every DWS query's own filter: predicates are pushed below
        # the watermark node, so each query's watermark advances only on
        # rows its filter keeps — a good_detail page arriving from search
        # with an item advances keyword, traffic AND home/detail-UV.
        _log("mid9", "1", DAY1 + 600_000,
             page={"page_id": "good_detail", "during_time": 100,
                   "item": "fast widget", "item_type": "keyword",
                   "last_page_id": "search"}),
    ]


def main() -> None:
    spark = get_spark("warehouse-demo")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="sparkdw-demo-")
    try:
        src_db = os.path.join(root, "src_db")
        src_log = os.path.join(root, "src_log")
        os.makedirs(src_db), os.makedirs(src_log)
        open(os.path.join(src_db, "b0.json"), "w").write("\n".join(fixture_db_lines()))
        open(os.path.join(src_log, "b0.json"), "w").write("\n".join(fixture_log_lines()))

        config = spark.createDataFrame(
            [("base_dic", "dim_base_dic", "dic_code,dic_name", "info", "dic_code", "r")],
            schemas.TABLE_PROCESS_DIM,
        )
        wh = Warehouse(spark, WarehousePaths(os.path.join(root, "wh")), lambda s: config)
        from .sources.kafka import file_json_raw

        wh.run_available_now(
            file_json_raw(spark, src_db), file_json_raw(spark, src_log)
        )

        print("\n=== DIM: dim_base_dic ===")
        wh.dim_wh.read_dim(spark, "dim_base_dic").show(truncate=False)
        print("=== DWD: cart_add append stream (insert + incremental update) ===")
        spark.read.parquet(wh.cart_add_dir).orderBy("id", "sku_num").show(truncate=False)
        print("=== DWD: comment x base_dic lookup ===")
        wh.comment_table.read(spark).show(truncate=False)
        print("=== DWD: order_detail 4-way join ===")
        wh.od_join.out.read(spark).select(
            "id", "order_id", "user_id", "province_id", "activity_id", "split_total_amount"
        ).show(truncate=False)
        print("=== DWD: page route (is_new fixed) ===")
        spark.read.parquet(wh.paths.page_dir).select(
            F.col("common.mid"), F.col("common.is_new"), "ts", F.col("page.page_id")
        ).orderBy("ts").show(truncate=False)
        print("=== DWS: keyword window serving table ===")
        kw = wh.kw_serving.read(spark)
        (kw.orderBy("stt", "keyword").show(truncate=False) if kw is not None else print("(empty)"))
        print("=== DWS: traffic window serving table ===")
        tr = wh.traffic_serving.read(spark)
        (tr.orderBy("stt").show(truncate=False) if tr is not None else print("(empty)"))
        print("=== DWS: home/detail UV (shared first_seen chain, src uv) ===")
        uv = wh.uv_serving.read(spark)
        (uv.orderBy("stt").show(truncate=False) if uv is not None else print("(empty)"))
        print("=== DWS: cart-add unique users (shared first_seen chain, src cart) ===")
        cu = wh.cart_uu_serving.read(spark)
        (cu.orderBy("stt").show(truncate=False) if cu is not None else print("(empty)"))

        # --- training-data curation suite over the synthetic corpus -----
        sf = os.environ.get("SPARK_GRAFT_SF_DIR_DEMO", "/root/testdata/sf0.001")
        if os.path.exists(sf):
            from .plans.catalog import CATALOG

            print("=== Corpus curation: quality -> exact dedup -> near-dup drop ===")
            cleaned = CATALOG["pipeline_corpus_clean"].fn(spark, sf)
            docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
            n_in, n_out = docs.count(), cleaned.count()
            print(f"documents in: {n_in}  surviving: {n_out}  dropped: {n_in - n_out}")
            print("=== Near-dup components (largest clusters) ===")
            CATALOG["dedup_components_keep"].fn(spark, sf).groupBy("component").agg(
                F.count(F.lit(1)).alias("cluster_size")
            ).filter(F.col("cluster_size") > 1).orderBy(
                F.col("cluster_size").desc(), "component"
            ).show(5, truncate=False)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
