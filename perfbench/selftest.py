#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Checks, in about ten minutes on four cores:

* the same seed gives byte-identical inputs and another seed different
  ones, for both the warehouse topics and the catalog tables;
* ``run.py --tiny`` prints every metric of BENCHMARK.json with its unit,
  end-to-end with ``--trace 0`` and per-layer with ``--trace 1``, and
  passes every correctness check (its error rate is 0);
* ``run.py --tiny --corrupt`` falsifies one expectation and must then
  report a failed check (an error rate above 0) and ``correct: false``.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check_inputs(work: str) -> list[str]:
    """Seed → inputs is a function, and the seed matters."""
    sys.path[:0] = [HERE, ROOT]
    import catmix
    import gen
    import wh

    errors = []
    a, b, c = (gen.warehouse_inputs(s, **wh.TINY_SHAPE).digest() for s in (5, 5, 6))
    if a != b:
        errors.append("warehouse inputs differ for one seed")
    if a == c:
        errors.append("warehouse inputs equal for two seeds")
    d = {}
    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        out = os.path.join(work, f"data-{tag}")
        catmix.make_data(seed, out, {"lineitem", "embeddings"}, sf=catmix.TINY_SF)
        d[tag] = _tree_digest(out)
    if d["a"] != d["b"]:
        errors.append("catalog tables differ for one seed")
    if d["a"] == d["c"]:
        errors.append("catalog tables equal for two seeds")
    return errors


def run(workload: str, *extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "0", "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        return {}, f"exit {p.returncode}: {p.stderr[-2000:]}"
    return json.loads(lines[-1]), ""


def check_run(spec: dict, workload: str, trace: int, corrupt: bool) -> list[str]:
    args = ["--trace", str(trace)] + (["--corrupt"] if corrupt else [])
    res, err = run(workload, *args)
    tag = f"{workload} {' '.join(args)}"
    if err:
        return [f"{tag}: {err}"]
    errors = []
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[kind]}
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    if got != want:
        errors.append(f"{tag}: metrics {sorted(set(got) ^ set(want))} or units differ")
    if not all(isinstance(v.get("value"), float) for v in res["metrics"].values()):
        errors.append(f"{tag}: a metric value is not a number")
    error_rate = res["failed"] / res["attempted"]
    if corrupt and (res["correct"] or error_rate == 0):
        errors.append(f"{tag}: a falsified expectation went unnoticed")
    if not corrupt and (not res["correct"] or error_rate != 0):
        errors.append(f"{tag}: error rate {error_rate} on a correct program")
    print(f"{tag}: attempted {res['attempted']}, failed {res['failed']}", flush=True)
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(HERE, ".work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        errors = check_inputs(work)
        print(f"inputs: {'ok' if not errors else errors}", flush=True)
        for workload in ("warehouse", "catalog_mix"):
            for trace, corrupt in ((0, False), (1, False), (0, True)):
                errors += check_run(spec, workload, trace, corrupt)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAIL" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
