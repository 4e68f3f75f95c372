"""Static scale audit: machine-checks the package's 100 TB design claims.

Every driver-side materialization (`collect`/`toPandas`) in the engine
must appear in the allowlist below with its boundedness justification —
a new unguarded collect fails this test until it is either removed or
consciously justified here.  Row-at-a-time Python UDFs are forbidden
outright (Arrow-batched pandas UDFs / mapInPandas are the sanctioned
Python path), and every crossJoin must either broadcast a side or be an
allowlisted bounded/contrast path.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "flink_realtime_dw4_0_spark")

# (filename, line-substring-regex) -> justification.  Keep these TIGHT:
# the regex must match the materializing line itself.
COLLECT_ALLOWLIST = [
    ("streaming/dim.py", r"config\.collect\(\)",
     "broadcast-config table: bounded by the config row count (T2)"),
    ("streaming/dwd_trade.py", r"\.collect\(\)",
     "per-batch stats: one row per routed table (<= 4 rows)"),
    ("streaming/sideoutput.py", r"agg\(F\.min\(.max_ts.\)",
     "watermark probe: single-row aggregate"),
    ("sinks/serving.py", r"limit\(max_rows_per_batch \+ 1\)\.toPandas",
     "serving upsert: limit-gated, fails loud past max_rows_per_batch"),
    ("sinks/upsert.py", r"probe\.distinct\(\)\.collect\(\)",
     "touched-bucket probe: bounded by n_buckets distinct values"),
    ("sinks/upsert.py", r"agg\(F\.collect_set\(.p.\)",
     "bloom sidecar build: <= n_buckets rows x <= BLOOM_BITS bit "
     "positions (the filter itself, never the data)"),
    ("sinks/upsert.py", r"probe\.select\(self\._bucket_expr\(\)",
     "point-lookup bucket probe: one row per requested key"),
    ("sinks/dim.py", r"df\.limit\(1\)\.collect\(\)",
     "dim point-GET: limit(1) single row"),
    ("streaming/trending.py", r"agg\(F\.max\(ts\)",
     "batch as-of probe: single-row max aggregate"),
    ("streaming/trending.py", r"agg\(F\.max\(.asof_ms.\)",
     "stored as-of clamp probe: single-row max aggregate over state"),
    ("operators/similarity.py", r"orderBy\(.id.\)\.limit\(1\)",
     "k-center seed: limit(1) single row"),
    ("operators/similarity.py", r"F\.max\(F\.struct\(F\.col\(.d2.\)",
     "k-center argmax: single-row max_by per round"),
    ("operators/sampling.py", r"groupBy\(._pid.\)",
     "per-partition totals: one row per partition (prefix-sum rank)"),
    ("operators/sampling.py", r"agg\(\(F\.max\(.shard_id.\)",
     "export shard count: single-row max aggregate"),
    ("operators/dedup.py", r"limit\(driver_threshold \+ 1\)\.collect\(\)",
     "components gate: limit-bounded at threshold+1 id rows"),
    ("operators/text.py", r"\.collect\(\)",
     "bpe_train argmax: limit(1) single-row top pair per merge"),
    ("operators/similarity.py", r"corpus = base\.collect\(\)",
     "cosine broadcast path: entered only after count <= broadcast_rows"),
    ("operators/similarity.py", r"\.limit\(cap\)",
     "IVF/PQ training sample: limit-bounded at sample_cap rows"),
    ("operators/similarity.py", r"q_cells\.select\(.cell.\)\.distinct",
     "probed-cell ids: bounded by n_cells integers"),
    ("operators/similarity.py", r"agg\(F\.sum\(.d2.\)",
     "k-means inertia: single scalar"),
    ("operators/similarity.py", r"groupBy\(.cell., .pos.\)",
     "k-means model update: k x dim partial sums (the model, not the data)"),
    ("operators/similarity.py", r"queries\.select\(F\.col\(id_col\)\.alias\(.qid.\)",
     "ADC query LUTs: queries are the declared small side (broadcast shape)"),
    ("operators/similarity.py", r"_l2_normalize\(queries",
     "IVFADC query set: queries are the declared small side"),
]

CROSSJOIN_ALLOWLIST = [
    # a crossJoin that broadcasts a side is by definition bounded — any file
    ("", r"crossJoin\(F\.broadcast"),
    ("operators/similarity.py", r"a\.crossJoin\(b\)"),   # documented naive contrast path
    ("operators/similarity.py", r"\.crossJoin\(c\)"),    # broadcast(q) is the left side
]


def _hits(pattern: str, context: int = 6):
    """(relpath, lineno, context) for each match; context is the match
    line plus the `context` preceding lines (method chains split across
    lines put the informative call — limit(...), distinct() — above the
    terminal .collect())."""
    out = []
    for root, _dirs, files in os.walk(PKG):
        if "plans" in root:  # catalog fns run at sf scale under the oracle gate
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            lines = open(path).readlines()
            for i, line in enumerate(lines, 1):
                stripped = line.split("#")[0]
                if re.search(pattern, stripped):
                    ctx = "".join(lines[max(0, i - 1 - context) : i])
                    out.append((rel, i, ctx))
    return out


def test_no_unjustified_driver_materialization():
    bad = []
    for rel, i, line in _hits(r"\.collect\(\)|\.toPandas\(\)"):
        ok = any(
            rel.endswith(f) and re.search(rx, line)
            for f, rx, _just in COLLECT_ALLOWLIST
        )
        if not ok:
            bad.append(f"{rel}:{i}: {line}")
    assert not bad, (
        "unjustified driver materialization (add to COLLECT_ALLOWLIST with a "
        "boundedness justification, or make the operator distributed):\n"
        + "\n".join(bad)
    )


def test_no_row_at_a_time_python_udfs():
    bad = [
        f"{rel}:{i}: {line}"
        for rel, i, line in _hits(r"F\.udf\(|@udf\b|functions\.udf\(")
    ]
    assert not bad, (
        "row-at-a-time Python UDF found (use pandas_udf / mapInPandas):\n"
        + "\n".join(bad)
    )


def test_crossjoins_broadcast_or_allowlisted():
    bad = []
    for rel, i, line in _hits(r"\.crossJoin\("):
        ok = any(
            rel.endswith(f) and re.search(rx, line)
            for f, rx in CROSSJOIN_ALLOWLIST
        )
        if not ok:
            bad.append(f"{rel}:{i}: {line}")
    assert not bad, (
        "crossJoin without a broadcast side (allowlist it with a bound, or "
        "broadcast the small side):\n" + "\n".join(bad)
    )


def test_super_linear_exacts_declare_scale_contract():
    """Every catalog entry the measured scale ladder flagged >= 1.5
    (BENCH_SCALE.json, 100x span) must carry a scale_contract naming
    its measured-flat plan of record — so no consumer of queries()
    mistakes an exactness reference for the 100 TB path — and the named
    twin must actually exist in the catalog."""
    from flink_realtime_dw4_0_spark.plans.catalog import CATALOG

    flagged = {
        "dedup_ngram_jaccard": "dedup_ngram_capped",
        "ann_cosine_pairs": "ann_brute_force_topk",
        "pipeline_pretrain_curation": "pipeline_pretrain_curation_capped",
        # r10 sf10 probe: the uncapped pair stage spilled >50 GB at
        # 500k docs — r9's 0.97 exponent was overhead-masked at sf1
        "dedup_keep_best_quality": "dedup_keep_best_capped",
    }
    for name, twin in flagged.items():
        sc = CATALOG[name].scale_contract
        assert sc, f"{name} measured super-linear but has no scale_contract"
        assert twin in sc, f"{name} scale_contract must name its twin {twin}"
        assert twin in CATALOG, f"named plan of record {twin} not in catalog"
    # and the default contract stays the default: nothing else opts in
    # without a measured flag to point at
    extra = [n for n, s in CATALOG.items()
             if s.scale_contract and n not in flagged]
    assert not extra, f"unexpected scale_contract on {extra}"


def test_gen_scale_data_write_clears_stale_shards(tmp_path):
    """Regenerating a sharded table with FEWER part files must remove
    the old shard set first (r11 ADVICE medium): Spark reads every
    part-*.parquet in the directory, so a leftover shard silently
    inflates row counts and corrupts ladder exponents."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import sys

    sys.path.insert(0, "tools")
    try:
        import gen_scale_data as g
    finally:
        sys.path.pop(0)

    out = str(tmp_path)
    big = pa.table({"x": pa.array(range(3 * g.SHARD_ROWS["embeddings"]))})
    g._write(out, "embeddings", big)
    tdir = tmp_path / "embeddings.parquet"
    assert len(list(tdir.glob("part-*.parquet"))) == 3

    small = pa.table({"x": pa.array(range(g.SHARD_ROWS["embeddings"] + 1))})
    g._write(out, "embeddings", small)
    parts = sorted(p.name for p in tdir.glob("part-*.parquet"))
    assert parts == ["part-00000.parquet", "part-00001.parquet"], parts
    total = sum(pq.read_table(str(tdir / p)).num_rows for p in parts)
    assert total == small.num_rows
