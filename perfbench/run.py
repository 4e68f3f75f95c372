#!/usr/bin/env python3
"""Benchmark of the layered warehouse and the batch catalog.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
measured with tracing off; with ``--trace 1`` they are its per-layer
metrics, from a traced pass (spans around each layer's public functions,
Spark's query progress and the Spark event log).  The lines before it are
a readable report.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_realtime_dw4_0_spark"
WORKLOADS = ("warehouse", "catalog_mix")
DRIVER_MEM = "3g"


def log(msg: str) -> None:
    print(msg, flush=True)


# ------------------------------------------------------------ process stats
def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident memory) over ``pids``."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024


def wchar(pid: int) -> int:
    with open(f"/proc/{pid}/io") as fh:
        for line in fh:
            if line.startswith("wchar:"):
                return int(line.split()[1])
    return 0


# ------------------------------------------------------------------- session
def start_session(workload: str, work: str, trace: bool):
    """Spark session whose scratch files all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "spark-warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{ev}",
                     "spark.eventLog.compress": "false"})
    from flink_realtime_dw4_0_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its python workers are gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = _descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# ---------------------------------------------------------------- workloads
class Result:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: dict[str, tuple[float, str]] = {}
        self.traced = None  # what the traced pass leaves for the per-layer view

    def checks(self, results: list[tuple[str, bool, str]]) -> None:
        for name, ok, detail in results:
            self.attempted += 1
            self.failed += not ok
            if not ok:
                log(f"CHECK FAIL {name}: {detail}")
        log(f"checks: {sum(ok for _, ok, _ in results)}/{len(results)} passed")


def run_warehouse(spark, args, work: str, res: Result, t0: float) -> None:
    import gen
    import spans
    import wh

    config = wh.dim_config(spark)
    shape, warm_shape = (wh.TINY_SHAPE, wh.TINY_SHAPE) if args.tiny else (wh.SHAPE, wh.WARMUP_SHAPE)
    inputs = gen.warehouse_inputs(args.seed, **shape)
    if args.corrupt:
        inputs.truth["routes"]["page"] += 1
    warm = gen.warehouse_inputs(args.seed + 1, **warm_shape)
    tw = time.perf_counter()
    wh.Drain(spark, warm, os.path.join(work, "warmup"), config).warm()
    res.layers["session.warmup_s"] = time.perf_counter() - tw
    res.e2e["setup_s"] = time.perf_counter() - t0
    jvm = jvm_pid()

    def one_pass(i: int, tracer=None):
        drain = wh.Drain(spark, inputs, os.path.join(work, f"pass{i}"), config)
        patches = spans.layer_patches(tracer) if tracer else None
        w0 = wchar(jvm)
        try:
            secs = drain.run()
        finally:
            if patches:
                patches.restore()
        wrote = wchar(jvm) - w0
        res.attempted += len(drain.batches())
        res.checks(drain.check())
        return drain, secs, wrote

    if args.trace:
        tracer = spans.Tracer()
        drain, secs, _ = one_pass(0, tracer)
        res.layers["diag.traced_pass_s"] = secs
        res.traced = (tracer, drain)
        tracer.dump(os.path.join(args.out, f"spans-{args.workload}-{args.seed}.json"))
        return
    passes, step_ms, writes = [], [], []
    deadline = time.perf_counter() + args.seconds
    while True:
        drain, secs, wrote = one_pass(len(passes))
        passes.append(secs)
        step_ms += drain.db_batch_ms()
        writes.append(wrote)
        log(f"pass {len(passes)}: {secs:.3f} s, db batches {drain.db_batch_ms()} ms")
        if time.perf_counter() >= deadline:
            break
    events = inputs.events
    res.e2e.update(pass_s=statistics.median(passes), step_ms_p50=statistics.median(step_ms),
                   write_mb_per_pass=statistics.median(writes) / 1e6)
    res.report.update(events_per_s=(events / res.e2e["pass_s"], "events/s"),
                      batch_ms_p50=(res.e2e["step_ms_p50"], "ms"),
                      write_bytes_per_event=(statistics.median(writes) / events, "B/event"))
    log(f"ODS events per pass: {events} ({inputs.truth['db_rows']} topic_db, "
        f"{inputs.truth['log_rows']} topic_log); db micro-batches timed: {len(step_ms)}")


def run_catalog(spark, args, work: str, res: Result, t0: float) -> None:
    import catmix

    sf, mix = (catmix.TINY_SF, catmix.TINY_MIX) if args.tiny else (catmix.SF, None)
    data = catmix.make_data(args.seed, os.path.join(work, "data"), sf=sf)
    names = catmix.order(args.seed, mix)
    tw = time.perf_counter()
    # warm-up: the correctness pass (collect + DuckDB oracle), then one
    # untimed pass into the noop sink, which runs about a third slower
    # than the passes after it
    res.checks(catmix.oracle_check(spark, data, names, corrupt=args.corrupt))
    for q in names:
        catmix.run_query(spark, q, data)
    res.layers["session.warmup_s"] = time.perf_counter() - tw
    res.e2e["setup_s"] = time.perf_counter() - t0
    if args.trace:
        res.traced = catmix.traced_pass(spark, data, names)
        res.layers["diag.traced_pass_s"] = sum(
            t["build_s"] + t["plan_s"] + t["exec_s"] for t in res.traced.values())
        return
    jvm = jvm_pid()
    passes, steps, writes = [], [], []
    deadline = time.perf_counter() + args.seconds
    while True:
        w0 = wchar(jvm)
        times = []
        for q in names:
            res.attempted += 1
            try:
                times.append(catmix.run_query(spark, q, data))
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                res.failed += 1
                log(f"QUERY FAIL {q}: {e}")
        writes.append(wchar(jvm) - w0)
        passes.append(sum(times))
        steps += times
        log(f"pass {len(passes)}: {passes[-1]:.3f} s")
        if time.perf_counter() >= deadline:
            break
    res.e2e.update(pass_s=statistics.median(passes), step_ms_p50=1000 * statistics.median(steps),
                   write_mb_per_pass=statistics.median(writes) / 1e6)
    res.report.update(catalog_pass_s=(res.e2e["pass_s"], "s"),
                      query_s_p50=(res.e2e["step_ms_p50"] / 1000, "s"))
    log(f"queries per pass: {len(names)}; query timings: {len(steps)}")


def canary(spark, args, work: str, res: Result) -> None:
    """In-run tpch_q1 canary: a diagnostic of host speed, not a metric."""
    import catmix

    data = os.path.join(work, "data")
    if not os.path.isdir(os.path.join(data, "lineitem.parquet")):
        catmix.make_data(args.seed, data, {"lineitem"})
    catmix.run_query(spark, catmix.CANARY, data)  # warm
    res.layers["diag.canary_tpch_q1_s"] = catmix.run_query(spark, catmix.CANARY, data)
    log(f"canary {catmix.CANARY}: {res.layers['diag.canary_tpch_q1_s']:.3f} s")


def measure(args, work: str, res: Result, t0: float) -> None:
    """Set up, run the workload's passes and, if traced, read the trace."""
    spark = None
    try:
        ts = time.perf_counter()
        spark = start_session(args.workload, work, bool(args.trace))
        res.layers["session.start_s"] = time.perf_counter() - ts
        {"warehouse": run_warehouse, "catalog_mix": run_catalog}[args.workload](
            spark, args, work, res, t0)
        canary(spark, args, work, res)
        # the JVM alone: how many python workers are alive at the end,
        # and so in a sum over the process tree, varies from run to run
        res.e2e["peak_rss_mb"] = peak_rss_mb([jvm_pid()])
        res.report["peak_rss_tree_mb"] = (peak_rss_mb(_descendants(jvm_pid())), "MB")
    finally:
        if spark is not None:
            stop_session(spark)
    if args.trace:
        from spans import read_event_log

        event_log = read_event_log(os.path.join(work, "eventlog"))
        if args.workload == "warehouse":
            import wh

            tracer, drain = res.traced
            res.layers.update(wh.layer_metrics(tracer, drain, event_log))
        else:
            import catmix

            res.layers.update(catmix.layer_metrics(event_log, res.traced))


# --------------------------------------------------------------------- main
def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test size: tiny inputs and a three-query mix")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: falsify one expectation, so the run must fail a check")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
            os.path.join(ROOT, "tools", "check_oracle.py")):
        print(f"perfbench: {PACKAGE}/ and tools/ not found next to perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    args.out = os.path.join(HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(args.out, exist_ok=True)
    os.makedirs(work)
    res = Result()
    try:
        measure(args, work, res, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res.report.update(setup_s=(res.e2e["setup_s"], "s"),
                      error_rate=(res.failed / max(1, res.attempted), "ratio"),
                      peak_rss_mb=(res.e2e["peak_rss_mb"], "MB"))
    for name, (v, unit) in sorted(res.report.items()):
        log(f"  {name:<24} {v:>14.4f} {unit}")
    for name in sorted(res.layers):
        if name.startswith("diag."):
            log(f"  {name:<24} {res.layers[name]:>14.4f}")
    kind, values = ("per_layer", res.layers) if args.trace else ("end_to_end", res.e2e)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[kind]}
    print(json.dumps({"correct": res.failed == 0, "attempted": max(1, res.attempted),
                      "failed": res.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
