"""Catalog workload: the batch query mix, one query at a time.

The mix is the catalog's 14 ``bench``-tagged queries.  The two slowest
paths, ``ann_pq_topk`` and ``pipeline_pretrain_curation_capped``, are
left out: their cold runs and checks would add about 14 s to every run's
set-up (see README.md, "Limits").  Every query runs through ``CATALOG[name].fn`` and is written to Spark's ``noop``
sink, so the time covers planning, eager materialization inside the plan
function and execution, but no result transfer.  The seed fixes the data
(the repo's scale-ladder generator, seeded) and the query order.

Correctness runs once per run, outside the timed passes: each query's
collected rows are compared with its DuckDB oracle twin through
``tools/check_oracle.py``'s normalisation.
"""

from __future__ import annotations

import os
import random
import statistics
import time

SF = 0.01
TINY_SF = 0.001  # self-test size
TINY_MIX = ["tpch_q1_pricing_summary", "j1_inner_equijoin", "dedup_exact"]
CANARY = "tpch_q1_pricing_summary"


def mix() -> list[str]:
    from flink_realtime_dw4_0_spark.plans.catalog import CATALOG

    return [n for n, s in CATALOG.items() if s.bench]


def make_data(seed: int, out_dir: str, tables: set[str] | None = None, sf: float = SF) -> str:
    """Seeded copy of the scale-ladder tables at scale factor ``sf``."""
    import tools.gen_scale_data as g

    saved, g.SEED = g.SEED, seed  # the generator seeds every table from this constant
    try:
        g.gen(sf, out_dir, tables)
    finally:
        g.SEED = saved
    return out_dir


def run_query(spark, name: str, data: str) -> float:
    """Plan + run one query into the noop sink; returns wall seconds."""
    from flink_realtime_dw4_0_spark.plans.catalog import CATALOG

    t0 = time.perf_counter()
    CATALOG[name].fn(spark, data).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def oracle_check(spark, data: str, names: list[str],
                 corrupt: bool = False) -> list[tuple[str, bool, str]]:
    """Collect each query and compare with its DuckDB twin.  ``corrupt``
    adds one row to the first expectation (the self-test's proof that a
    wrong output is caught)."""
    import duckdb

    from flink_realtime_dw4_0_spark.plans.catalog import CATALOG
    from tools.check_oracle import TABLES, norm_rows, type_mismatches

    con = duckdb.connect()
    for tb in TABLES:
        path = os.path.join(data, f"{tb}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {tb} AS SELECT * FROM '{src}'")
    out = []
    try:
        for name in names:
            spec = CATALOG[name]
            df = spec.fn(spark, data)
            srows = [tuple(r) for r in df.collect()]
            extra = int(corrupt and not out)
            atbl = con.execute(spec.oracle).arrow()
            mism = type_mismatches(df.columns, df.dtypes, atbl.schema)
            got = norm_rows(df.columns, srows)
            want = norm_rows(atbl.schema.names,
                             [tuple(r.values()) for r in atbl.to_pylist()]
                             + [("?",) * atbl.num_columns] * extra)
            ok = not mism and got[0] == want[0] and _rows_match(got[1], want[1])
            out.append((name, ok, "" if ok else f"types {mism} or rows differ "
                        f"({len(got[1])} vs {len(want[1])})"))
    finally:
        con.close()
    return out


def _cells_match(x: str, y: str) -> bool:
    """Equal, or numbers within one unit of their last decimal: a sum
    rounded to cents can land either side of a rounding boundary when
    Spark and DuckDB add the same doubles in another order."""
    if x == y:
        return True
    try:
        a, b = float(x), float(y)
    except ValueError:
        return False
    decimals = 0 if "e" in x + y else max(len(v.partition(".")[2]) for v in (x, y))
    quantum = 10.0 ** -decimals if decimals else 0.0
    return abs(a - b) <= max(quantum, 1e-9 * max(abs(a), abs(b))) * 1.001


def _rows_match(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(map(_cells_match, g, w)) for g, w in zip(got, want))


def order(seed: int, names: list[str] | None = None) -> list[str]:
    names = list(names or mix())
    random.Random(seed).shuffle(names)
    return names


def layer_metrics(event_log: dict, times: dict[str, dict[str, float]]) -> dict:
    """Per-query build/exec split and Spark stage totals of the traced pass.

    ``times[q]`` holds ``build_s`` (the ``CATALOG[q].fn`` call, including
    any eager materialization it does), ``plan_s`` and ``exec_s``."""
    from spans import jobs_in_group

    m: dict[str, float] = {}
    stages_all: set[int] = set()
    for q, t in times.items():
        jobs = jobs_in_group(event_log, f"perfbench:{q}:")
        stages = {s for j in jobs for s in j["stages"] if s in event_log["stages"]}
        stages_all |= stages
        m[f"plans.{q}.build_s"] = t["build_s"]
        m[f"plans.{q}.exec_s"] = t["exec_s"]
        m[f"plans.{q}.jobs"] = len(jobs)
        m[f"plans.{q}.shuffle_bytes"] = sum(event_log["stages"][s]["shuffle_write"]
                                            for s in stages)
    st = [event_log["stages"][s] for s in stages_all]
    m["plans.plan_s"] = sum(t["plan_s"] for t in times.values())
    m["plans.executor_cpu_s"] = sum(s["cpu_ns"] for s in st) / 1e9
    m["plans.spill_bytes"] = sum(s["spill"] for s in st)
    skew = [max(s["task_ms"]) / max(1.0, statistics.median(s["task_ms"]))
            for s in st if len(s["task_ms"]) >= 2]
    m["plans.task_skew_max"] = max(skew, default=1.0)
    return m


def traced_pass(spark, data: str, names: list[str]) -> dict[str, dict[str, float]]:
    """One pass with the build / plan / execute split timed per query."""
    from flink_realtime_dw4_0_spark.plans.catalog import CATALOG

    times = {}
    sc = spark.sparkContext
    for q in names:
        sc.setJobGroup(f"perfbench:{q}:build", q)
        t0 = time.perf_counter()
        df = CATALOG[q].fn(spark, data)
        t1 = time.perf_counter()
        sc.setJobGroup(f"perfbench:{q}:plan", q)
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        sc.setJobGroup(f"perfbench:{q}:exec", q)
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        times[q] = {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2}
    sc.setJobGroup("perfbench:idle", "idle")
    return times
