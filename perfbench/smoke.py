"""Tiny-size smoke run of every workload, untraced and traced.

    python3 perfbench/smoke.py            # from the root of a checkout

Asserts that each run exits 0, is correct, prints the result line with
exactly the metric names and units of BENCHMARK.json (end-to-end untraced,
per-layer traced), and that the run record carries the workload's own
named figures, sample counts and host shape. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import run

# the workload's own figures each run record must carry
NAMED = {
    "bulk_build": ("build_docs_per_s", "build_cold_s", "index_bytes_ratio"),
    "point_queries": ("query_p50_s", "qps", "cold_query_s", "index_bytes_ratio"),
    "heavy_queries": ("query_p50_s", "qps", "cold_query_s", "index_bytes_ratio"),
    "nrt_churn": ("visible_p50_s", "churn_docs_per_s", "compact_s", "visible_cold_s"),
}
CHURN_LAYERS = ("ingest.append_s", "ingest.open_s", "ingest.first_query_s", "ingest.delete_s",
                "ingest.write_amp", "compaction.compact_s", "checkpoint.check_index_s")
TRACED_LAYERS = {
    "bulk_build": ("builder.build_index_s", "builder.save_s", "searcher.plan_s"),
    "point_queries": ("searcher.plan_s", "searcher.exec_s", "searcher.exec_s.multiterm",
                      *CHURN_LAYERS),
    "heavy_queries": ("searcher.plan_s", "spans.exec_s", "searcher.exec_s.span", *CHURN_LAYERS),
    "nrt_churn": ("searcher.plan_s", *CHURN_LAYERS),
}


def check_manifest() -> None:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E, "end_to_end != run.E2E"
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYERS, "per_layer != run.LAYERS"
    for w in bench["workloads"]:
        assert w["name"] in NAMED, w["name"]


def smoke(workload: str, trace: int) -> None:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "5", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, f"{workload}: exit {p.returncode}\n{p.stderr[-2000:]}"
    lines = p.stdout.strip().splitlines()
    result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, record["errors"]
    want = run.LAYERS if trace else run.E2E
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload}: metrics {sorted(set(got) ^ set(want))}"
    for name in NAMED[workload]:
        assert record.get(name) is not None, f"{workload}: record lacks {name}"
    assert record["samples"]["op"] >= 1
    assert {"nproc", "ram_gb", "python", "pyspark", "git_sha"} <= set(record["host"])
    assert record["flush_policy"] and record["coverage_gaps"]
    if trace:
        for name in TRACED_LAYERS[workload]:
            assert record["layers"].get(name, 0) > 0, f"{workload}: layer {name} not measured"
        if workload.endswith("_queries"):
            assert record["reconcile"]["ok"], record["reconcile"]
        assert os.path.exists(os.path.join(".perfbench", "out", f"spans_{workload}_s3.json"))
    print(f"ok  {workload:14s} trace={trace}  {record['run_wall_s']:.1f} s", flush=True)


if __name__ == "__main__":
    check_manifest()
    for w in NAMED:
        for t in (0, 1):
            smoke(w, t)
