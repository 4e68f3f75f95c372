"""Seeded input generator and ground truth for the warehouse workload.

One single-threaded ``random.Random(seed)`` builds every input line, so a
seed fixes the inputs byte for byte.  Beside the ``topic_db`` (Maxwell
CDC) and ``topic_log`` (behaviour log) newline-JSON files it computes what
the warehouse must end with, from the generated events alone:

* DIM rows of ``dim_sku_info`` / ``dim_base_dic`` after inserts, updates
  and deletes, pruned to the dim config's column lists;
* the order-detail 4-way join, including a hot order and activity/coupon
  rows that arrive one micro-batch after their detail (in the same one,
  for details of the last micro-batch);
* cart-add rows and comment rows looked up through ``base_dic``;
* per-route DWD log row counts (err/start/display/action/page);
* DWS 10 s window totals: page views per (vc, ch, ar, is_new), keyword
  counts, home/detail UV and cart-add unique users.

Both topics end in a far-future heartbeat that passes every DWS query's
own filter, so every real window is flushed before the drain ends.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
from collections import Counter
from dataclasses import dataclass, field

DAY1_MS = 1_704_067_200_000  # 2024-01-01 00:00 UTC
DAY1_S = DAY1_MS // 1000
WINDOW_MS = 10_000
HEARTBEAT_MS = DAY1_MS + 3_600_000  # one hour past every real event

DIM_CONFIG = [
    # source_table, sink_table, sink_columns, sink_family, sink_row_key, op
    ("base_dic", "dim_base_dic", "dic_code,dic_name", "info", "dic_code", "r"),
    ("sku_info", "dim_sku_info", "id,spu_id,sku_name,price", "info", "id", "r"),
]
DIC = {"1201": "GoodReview", "1202": "MidReview", "1203": "BadReview",
       "1101": "Alipay", "1102": "WeChat"}
KEYWORDS = ["fast widget", "Blue Phone case", "小米手机", "华为 mate 手机壳",
            "usb-c cable", "机械键盘", "running shoes", "耳机"]
PAGES = ["home", "good_detail", "good_list", "cart", "mine", "order"]
VCS, CHS, ARS = ["v2.1", "v3.0"], ["app", "web", "xiaomi"], ["110000", "310000", "440000"]
_HAN_RUN = re.compile(r"([一-鿿]+)")


def tokenize(text: str) -> list[str]:
    """Python twin of operators.text.tokenize_keywords: lower + trim,
    whitespace split, Han runs of two or more characters as bigrams."""
    spaced = _HAN_RUN.sub(r" \1 ", text.strip().lower())
    out = []
    for tok in spaced.split():
        if _HAN_RUN.fullmatch(tok) and len(tok) >= 2:
            out.extend(tok[i:i + 2] for i in range(len(tok) - 1))
        else:
            out.append(tok)
    return out


def _win(ts_ms: int) -> int:
    return ts_ms - ts_ms % WINDOW_MS


def _mx(table: str, typ: str, data: dict, ts_s: int, old: dict | None = None,
        database: str = "gmall") -> str:
    return json.dumps({"database": database, "table": table, "type": typ,
                       "data": data, "old": old or {}, "ts": ts_s},
                      ensure_ascii=False, sort_keys=True)


@dataclass
class WarehouseInputs:
    db_files: list[list[str]]
    log_files: list[list[str]]
    truth: dict = field(default_factory=dict)

    @property
    def events(self) -> int:
        return sum(map(len, self.db_files)) + sum(map(len, self.log_files))

    def digest(self) -> str:
        """sha256 over every generated line, in file order."""
        h = hashlib.sha256()
        for files in (self.db_files, self.log_files):
            for lines in files:
                h.update("\n".join(lines).encode())
                h.update(b"\x00")
        return h.hexdigest()

    def write(self, root: str) -> tuple[str, str]:
        """Write one newline-JSON file per planned micro-batch slice and
        return the (topic_db, topic_log) source dirs.  The file source
        takes files in modification-time order, so each file gets its
        own second: slices written within one second would otherwise be
        read in listing order."""
        dirs = []
        for name, files in (("src_db", self.db_files), ("src_log", self.log_files)):
            d = os.path.join(root, name)
            os.makedirs(d)
            for i, lines in enumerate(files):
                path = os.path.join(d, f"part-{i:05d}.json")
                with open(path, "w", encoding="utf-8") as fh:
                    fh.write("\n".join(lines) + "\n")
                os.utime(path, (DAY1_S + i, DAY1_S + i))
            dirs.append(d)
        return dirs[0], dirs[1]


# ---------------------------------------------------------------- topic_log
def _log_lines(rng: random.Random, n_events: int, n_devices: int, span_ms: int,
               truth: dict) -> list[str]:
    """Page/start events with displays, actions and errors; fills the
    log-side ground truth."""
    # device profile: '1' new all day, '0' returning, or 'reinstall' (first
    # record says returning, later ones claim new -> the fix rewrites '0')
    kinds = rng.choices(["1", "0", "reinstall"], weights=[60, 35, 5], k=n_devices)
    seen: set[int] = set()
    routes: Counter = Counter()
    pv: Counter = Counter()
    kw: Counter = Counter()
    uv_first: dict[str, int] = {}
    lines = []
    step = max(1, span_ms // max(1, n_events))
    for i in range(n_events):
        ts = DAY1_MS + 1_000 + i * step  # strictly increasing: the visitor fix is order-exact
        d = rng.randrange(n_devices)
        mid = f"mid{d:06d}"
        first = d not in seen
        seen.add(d)
        if kinds[d] == "reinstall":
            is_new, fixed = ("0", "0") if first else ("1", "0")
        else:
            is_new = fixed = kinds[d]
        common = {"mid": mid, "is_new": is_new, "vc": VCS[d % 2], "ch": CHS[d % 3],
                  "ar": ARS[d % 3], "uid": f"u{d}", "sid": f"s{d}-{i // 50}",
                  "os": "android", "md": "m1", "ba": "b1"}
        rec: dict = {"common": common, "ts": ts}
        if rng.random() < 0.08:
            rec["start"] = {"entry": "icon", "loading_time": rng.randrange(100, 5000),
                            "open_ad_id": str(rng.randrange(20)),
                            "open_ad_ms": 3000, "open_ad_skip_ms": 0}
            routes["start"] += 1
        else:
            page_id = rng.choice(PAGES)
            page = {"page_id": page_id, "during_time": rng.randrange(100, 30_000)}
            r = rng.random()
            if r < 0.25:
                page.update(last_page_id="search", item_type="keyword",
                            item=rng.choice(KEYWORDS))
                for tok in tokenize(page["item"]):
                    kw[(_win(ts), tok)] += 1
            elif r < 0.75:
                page["last_page_id"] = rng.choice(PAGES)
            rec["page"] = page
            if rng.random() < 0.10:
                n_d, n_a = rng.randrange(1, 4), rng.randrange(1, 3)
                rec["displays"] = [{"item": str(rng.randrange(500)), "item_type": "sku_id",
                                    "pos_id": str(k), "pos_seq": str(k), "order": str(k)}
                                   for k in range(n_d)]
                rec["actions"] = [{"action_id": "favor_add", "item": str(rng.randrange(500)),
                                   "item_type": "sku_id", "ts": ts} for _ in range(n_a)]
                routes["display"] += n_d
                routes["action"] += n_a
            routes["page"] += 1
            pv[(_win(ts), common["vc"], common["ch"], common["ar"], fixed)] += 1
            if page_id in ("home", "good_detail") and mid not in uv_first:
                uv_first[mid] = ts
        if rng.random() < 0.03:
            rec["err"] = {"error_code": str(rng.randrange(1000, 4000)), "msg": "boom"}
            routes["err"] += 1
        lines.append(json.dumps(rec, ensure_ascii=False, sort_keys=True))
    # heartbeat: a good_detail page reached from a search, far in the
    # future -> advances the keyword, traffic and home/detail-UV watermarks
    hb = {"common": {"mid": "mid-heartbeat", "is_new": "1", "vc": VCS[0], "ch": CHS[0],
                     "ar": ARS[0], "uid": "u-hb", "sid": "s-hb"},
          "page": {"page_id": "good_detail", "during_time": 1, "last_page_id": "search",
                   "item_type": "keyword", "item": KEYWORDS[0]},
          "ts": HEARTBEAT_MS}
    lines.append(json.dumps(hb, ensure_ascii=False, sort_keys=True))
    routes["page"] += 1
    truth["routes"] = {r: routes[r] for r in ("err", "start", "display", "action", "page")}
    truth["traffic_pv"] = {"|".join(map(str, k)): v for k, v in pv.items()}
    truth["keyword"] = {f"{w}|{t}": v for (w, t), v in kw.items()}
    truth["home_detail_uv"] = {str(w): v for w, v in
                               Counter(_win(t) for t in uv_first.values()).items()}
    return lines


# ----------------------------------------------------------------- topic_db
def _db_batches(rng: random.Random, n_batches: int, orders: int, carts: int,
                comments: int, skus: int, truth: dict) -> list[list[str]]:
    """CDC micro-batch slices.  Maxwell ts is epoch seconds; every row of
    one key gets its own, increasing second, so last-write-wins is exact."""
    batches: list[list[str]] = [[] for _ in range(n_batches)]
    clock = [DAY1_S]

    def tick() -> int:
        clock[0] += 1
        return clock[0]

    b0 = batches[0]
    b0.append(_mx("base_dic", "bootstrap-start", {}, DAY1_S))
    for code, name in DIC.items():
        b0.append(_mx("base_dic", "bootstrap-insert",
                      {"dic_code": code, "dic_name": name, "parent_code": "12"}, DAY1_S))
    b0.append(_mx("base_dic", "bootstrap-complete", {}, DAY1_S))
    b0.append(_mx("base_dic", "insert", {"dic_code": "9999", "dic_name": "x"}, DAY1_S,
                  database="other_db"))  # dropped by the CDC ETL: not gmall

    # sku_info dim: inserts, then updates and deletes in the same or later
    # batches (the dim merge keeps each key's latest event by ts)
    sku_rows: dict[str, dict | None] = {}
    for k in range(skus):
        b = rng.randrange(max(1, n_batches - 1))
        sid = f"sku{k}"
        row = {"id": sid, "spu_id": f"spu{k % 7}", "sku_name": f"item {k}",
               "price": str(rng.randrange(100, 9000)), "weight": "1.0", "create_time": "t"}
        batches[b].append(_mx("sku_info", "insert", row, tick()))
        sku_rows[sid] = row
        for later in range(b, n_batches):
            cur = sku_rows[sid]
            r = rng.random()
            if cur is None:
                break
            if r < 0.3:
                new = dict(cur, price=str(rng.randrange(100, 9000)))
                batches[later].append(_mx("sku_info", "update", new, tick(),
                                          old={"price": cur["price"]}))
                sku_rows[sid] = new
            elif r < 0.4:
                batches[later].append(_mx("sku_info", "delete", cur, tick()))
                sku_rows[sid] = None
    keep = DIM_CONFIG[1][2].split(",")
    truth["dim_sku_info"] = {k: {c: v[c] for c in keep} for k, v in sku_rows.items() if v}
    truth["dim_base_dic"] = dict(DIC)

    # orders: one hot order takes 25% of the details; activity and coupon
    # rows for a detail arrive one batch after it
    joined: dict[str, dict] = {}
    hot = {"id": "o-hot", "user_id": "u-hot", "province_id": "1"}
    b0.append(_mx("order_info", "insert", hot, tick()))
    for b in range(n_batches):
        late = batches[min(b + 1, n_batches - 1)]
        for o in range(orders):
            oi = {"id": f"o{b}-{o}", "user_id": f"u{rng.randrange(300)}",
                  "province_id": str(rng.randrange(1, 35))}
            batches[b].append(_mx("order_info", "insert", oi, tick()))
            for _ in range(rng.randrange(1, 4)):
                order = hot if rng.random() < 0.25 else oi
                did = f"d{len(joined)}"
                od = {"id": did, "order_id": order["id"], "sku_id": f"sku{rng.randrange(skus)}",
                      "sku_name": "n", "order_price": "10.0", "sku_num": "1", "create_time": "t",
                      "split_total_amount": f"{rng.randrange(100, 99_999) / 100:.2f}",
                      "split_activity_amount": "0", "split_coupon_amount": "0"}
                batches[b].append(_mx("order_detail", "insert", od, tick()))
                row = {"order_id": order["id"], "user_id": order["user_id"],
                       "province_id": order["province_id"], "activity_id": None,
                       "coupon_id": None, "split_total_amount": od["split_total_amount"]}
                if rng.random() < 0.3:
                    row["activity_id"] = f"a{rng.randrange(9)}"
                    late.append(_mx("order_detail_activity", "insert",
                                    {"order_detail_id": did, "activity_id": row["activity_id"],
                                     "activity_rule_id": "r1"}, tick()))
                if rng.random() < 0.2:
                    row["coupon_id"] = f"c{rng.randrange(9)}"
                    late.append(_mx("order_detail_coupon", "insert",
                                    {"order_detail_id": did, "coupon_id": row["coupon_id"]},
                                    tick()))
                joined[did] = row
    truth["order_detail_join"] = joined

    # cart_info insert -> update pairs, the update one batch later (or in
    # the same batch, for the last); only an increase is a cart add
    cart_rows = cart_units = 0
    cart_first: dict[str, int] = {}
    open_carts: list[dict] = []
    comment_names: dict[str, str] = {}

    def update_open_carts(dest: list[str]) -> None:
        nonlocal cart_rows, cart_units
        for c in open_carts:
            if rng.random() < 0.5:
                new_num = int(c["sku_num"]) + rng.choice([-1, 1, 2])
                ts = tick()
                dest.append(_mx("cart_info", "update", dict(c, sku_num=str(new_num)),
                                ts, old={"sku_num": c["sku_num"]}))
                if new_num > int(c["sku_num"]):
                    cart_rows += 1
                    cart_units += new_num - int(c["sku_num"])
                    cart_first.setdefault(c["user_id"], ts * 1000)
        open_carts.clear()

    for b in range(n_batches):
        update_open_carts(batches[b])
        for k in range(carts):
            ts = tick()
            c = {"id": f"cart{b}-{k}", "user_id": f"u{rng.randrange(200)}",
                 "sku_id": f"sku{rng.randrange(skus)}", "cart_price": "9.9",
                 "sku_num": str(rng.randrange(1, 4)), "sku_name": "n", "create_time": "t"}
            batches[b].append(_mx("cart_info", "insert", c, ts))
            open_carts.append(c)
            cart_rows += 1
            cart_units += int(c["sku_num"])
            cart_first.setdefault(c["user_id"], ts * 1000)
        for k in range(comments):
            cid = f"cm{b}-{k}"
            code = rng.choice(["1201", "1202", "1203", "0000"])  # 0000 has no dic row
            batches[b].append(_mx("comment_info", "insert",
                                  {"id": cid, "user_id": "u1", "sku_id": "sku0",
                                   "appraise": code, "comment_txt": "ok"}, tick()))
            if code in DIC:
                comment_names[cid] = DIC[code]
    update_open_carts(batches[-1])
    # cart heartbeat: advances the cart-add-UU watermark past every window
    batches[-1].append(_mx("cart_info", "insert",
                           {"id": "cart-hb", "user_id": "u-heartbeat", "sku_id": "sku0",
                            "cart_price": "1", "sku_num": "1", "sku_name": "hb",
                            "create_time": "t"}, HEARTBEAT_MS // 1000))
    truth["cart_add"] = {"rows": cart_rows + 1, "units": cart_units + 1}
    truth["cart_add_uu"] = {str(w): v for w, v in
                            Counter(_win(t) for t in cart_first.values()).items()}
    truth["comment"] = comment_names
    for b in batches:
        rng.shuffle(b)  # keys carry their own ts; slice order means nothing
    return batches


def warehouse_inputs(seed: int, *, log_events: int, log_files: int, devices: int,
                     db_batches: int, orders: int, carts: int, comments: int,
                     skus: int) -> WarehouseInputs:
    """Both topics for one drain.  ``db_batches`` CDC slices become one
    micro-batch each; the log lines are cut into ``log_files`` files."""
    rng = random.Random(seed)
    truth: dict = {}
    db = _db_batches(rng, db_batches, orders, carts, comments, skus, truth)
    log = _log_lines(rng, log_events, devices, 120_000, truth)
    per = -(-len(log) // log_files)
    truth["db_rows"] = sum(map(len, db))
    truth["log_rows"] = len(log)
    return WarehouseInputs(db_files=db, log_files=[log[i:i + per] for i in range(0, len(log), per)],
                           truth=truth)
