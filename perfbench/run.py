"""The repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload point_queries --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed``, runs the workload's closed loop for ``--seconds`` (operations
started before the deadline finish), checks every answer against the
single-process oracle, and prints a run record followed, on the last line,
by the result: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, and the spans are written to ``.perfbench/out/``.

Tracing overhead: run the same workload and seed with ``--trace 0`` and
``--trace 1``; ``trace.op_p50_s`` minus ``op_p50_s`` is the overhead per
operation (``trace.bookkeeping_s_per_op`` is the tracer's own share).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shlex
import signal
import subprocess
import sys
import time

import workloads

E2E = {"setup_s": "s", "op_p50_s": "s", "throughput_per_s": "1/s"}

# Per-layer metrics printed as the result of a traced run: those that every
# listed workload exercises (a traced query run ends with one nrt_churn
# round for the ingest, compaction and checkpoint layers). Everything else
# a run measures (per-class splits of classes only one workload runs,
# spans) is in the run record's "layers".
LAYERS = {
    "session.start_s": "s",
    "builder.build_index_s": "s",
    "builder.save_s": "s",
    "builder.open_s": "s",
    "builder.spark_jobs": "count",
    "builder.spark_tasks": "count",
    "builder.task_busy_s": "s",
    "builder.index_bytes": "B",
    "builder.corpus_bytes": "B",
    "builder.terms": "count",
    "builder.blocks": "count",
    "analysis.tokens_per_s": "1/s",
    "codec.encode_mb_per_s": "MB/s",
    "codec.decode_mb_per_s": "MB/s",
    "bm25.scores_per_s": "1/s",
    "searcher.plan_s": "s",
    "searcher.exec_s": "s",
    "searcher.plan_s.term": "s",
    "searcher.exec_s.term": "s",
    "searcher.plan_s.bool": "s",
    "searcher.exec_s.bool": "s",
    "searcher.plan_s.phrase": "s",
    "searcher.exec_s.phrase": "s",
    "searcher.spark_jobs_per_query": "count",
    "searcher.spark_tasks_per_query": "count",
    "searcher.task_busy_s_per_query": "s",
    "searcher.sched_wait_s_per_query": "s",
    "searcher.blocks_per_query": "count",
    "searcher.match_ratio": "fraction",
    "searcher.cold_query_s": "s",
    "searcher.reconcile_gap": "fraction",
    "ingest.append_s": "s",
    "ingest.open_s": "s",
    "ingest.first_query_s": "s",
    "ingest.delete_s": "s",
    "ingest.spark_jobs_per_append": "count",
    "ingest.write_amp": "B/B",
    "ingest.shards_live": "count",
    "compaction.compact_s": "s",
    "compaction.bytes_rewritten": "B",
    "compaction.shards_merged": "count",
    "checkpoint.check_index_s": "s",
    "trace.op_p50_s": "s",
    "trace.bookkeeping_s_per_op": "s",
}

# Set against each result so a reader knows what the numbers do not cover.
COVERAGE_GAPS = [
    "term dictionary always fits the searcher's driver-side cache "
    "(stats_cache_max_terms=2M; corpus vocabulary is a few thousand terms): "
    "the dictionary-miss path is never exercised",
    "fuzzy queries use transpositions=False: OracleSearcher scores fuzzy "
    "expansions by Levenshtein similarity, so the transposition-aware "
    "default is not oracle-checked",
    "index sizes are small (thousands of docs) so one run fits the "
    "benchmark's time budget; per-job fixed cost weighs more than at scale",
    "query p90 needs 100 samples per run; runs report the highest "
    "percentile with ten samples above it instead",
    "BENCHMARK.json lists point_queries and heavy_queries only: warm bulk "
    "builds (bulk_build) and NRT churn under a sustained loop (nrt_churn) "
    "are measured by the same command but not by every run; the ingest, "
    "compaction and checkpoint layers come from one nrt_churn round at the "
    "end of each traced query run",
]
TIME_LIMIT_S = 170  # a run that has not finished by then exits non-zero


def host_shape(root: str) -> dict:
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    pkg = os.path.join(root, "lucenenet_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return {
        "nproc": os.cpu_count(),
        "spark_cores": workloads.cpus(),
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_sha": sha,
        "source_sha256": h.hexdigest(),
    }


def configure_env(work: str) -> None:
    """Spark settings the benchmark needs: small driver heap, no progress
    bars, and every temporary file inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(workloads.cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "pyspark-shell",
        ]
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(workloads.SIZES), default="full")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lucenenet_spark", "session.py")):
        print("perfbench: run from the root of a checkout (lucenenet_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(TIME_LIMIT_S)
    run = workloads.Run(root, args.seed, args.seconds, bool(args.trace), args.size)
    configure_env(run.work)
    t0 = time.perf_counter()
    try:
        workloads.WORKLOADS[args.workload](run)
        if run.tracer.enabled:
            out = os.path.join(root, ".perfbench", "out")
            os.makedirs(out, exist_ok=True)
            run.tracer.write(os.path.join(out, f"spans_{args.workload}_s{args.seed}.json"))
            run.record["layer_self_s"] = run.layer_self_times()
    finally:
        run.stop_session()
        run.cleanup()
        signal.alarm(0)

    names = LAYERS if run.tracer.enabled else E2E
    values = {k: float(run.layers.get(k, 0.0) if run.tracer.enabled else run.e2e[k]) for k in names}
    bad = [k for k, v in values.items() if not math.isfinite(v)]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "run_wall_s": time.perf_counter() - t0,
        "host": host_shape(root), "flush_policy": "page cache only; nothing is fsynced",
        "coverage_gaps": COVERAGE_GAPS, "errors": run.errors,
        "failed_ratio": run.failed / max(1, run.attempted), **run.record,
        "layers": run.layers,
    }
    print(json.dumps({"record": record}, default=str))
    if bad:
        print(f"perfbench: metrics not measured: {bad}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": names[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
