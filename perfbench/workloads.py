"""The workloads. Each is a closed loop driven from one process.

Every workload reports the same end-to-end metrics, each defined on that
workload's unit operation:

  setup_s            session start + corpus load + the build/open the
                     workload needs (repeatable steps: median of repeats)
  op_p50_s           median latency of the unit operation
  throughput_per_s   units of work completed per second of timed wall time

  workload        unit operation                      throughput unit
  point_queries   IndexSearcher.search(q, 10)          queries/s
  heavy_queries   search(q, 10) or span_query(..).toPandas(), from
                  up to 4 concurrent clients           queries/s
  bulk_build      build_index + InvertedIndex.save     docs/s (warm builds)
  nrt_churn       append_batch -> first answered       docs/s over the whole
                  search on a reader that sees it      loop incl. compactions

Cold numbers (first build, first query, first append), space (index bytes
per corpus byte) and the workload's own named figures go into the run
record.

A traced query run also runs one nrt_churn round after its timed window,
so the streaming.ingest, index.compaction and index.checkpoint layers are
measured on the listed workloads too.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import numpy as np

import checks
import gen
from tracing import Tracer, group_counts, self_times

SIZES = {
    # docs in the bulk corpus, the query index, one NRT micro-batch
    "full": {"bulk_docs": 10_000, "index_docs": 4_000, "batch_docs": 1_000},
    "tiny": {"bulk_docs": 400, "index_docs": 300, "batch_docs": 100},
}
OPEN_REPEATS = 3  # set-up steps that can be repeated are, and the median kept
NRT_DELETES = 3  # docs deleted after each micro-batch
RECONCILE_TOL = 0.05  # |plan + exec - client latency| / client latency allowed
WARMUP_REQUESTS = 4  # untimed requests before a query workload's timed window


def cpus() -> int:
    return max(1, min(4, os.cpu_count() or 1))


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def gen_corpus(work: str, seed: int, n: int) -> tuple[str, list[tuple]]:
    """Corpus rows in docid order, and a parquet copy for Spark (generation
    is never timed)."""
    rows = gen.in_docid_order(gen.gen_rows(seed, 0, n))
    path = os.path.join(work, "corpus.parquet")
    gen.write_parquet(rows, path)
    return path, rows


def content_bytes(rows) -> int:
    return sum(len(r[4].encode()) for r in rows)


class Run:
    """State of one benchmark run: the session, the tracer, the counts of
    attempted and failed operations and the metrics gathered so far."""

    def __init__(self, root: str, seed: int, seconds: float, trace: bool, size: str):
        self.root, self.seed, self.seconds = root, seed, seconds
        self.size = SIZES[size]
        self.tracer = Tracer(trace)
        if trace:
            trace_planning(self.tracer)
        self.work = os.path.join(root, ".perfbench", "work", str(os.getpid()))
        os.makedirs(self.work, exist_ok=True)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.record: dict = {"samples": {}}
        self.ops: list[float] = []  # unit-operation latencies in the timed loop
        self._lock = threading.Lock()

    # ----------------------------------------------------------- bookkeeping
    def fail(self, what: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def attempt(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n

    def start_session(self) -> float:
        from lucenenet_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench", master=f"local[{cpus()}]", shuffle_partitions=cpus()
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()
        dt = time.perf_counter() - t0
        self.layers["session.start_s"] = dt
        return dt

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # TimeoutExpired: the JVM ignored the closed pipe
                proc.kill()
                proc.wait()
        self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    @property
    def sc(self):
        return self.spark.sparkContext

    # --------------------------------------------------------------- helpers
    def spark_counts(self, layer: str) -> list[dict]:
        """Per-request Spark counts for every job group set for ``layer``."""
        if not self.tracer.enabled:
            return []
        groups = [g for g, lay in self.tracer.groups.items() if lay == layer]
        return list(group_counts(self.sc, groups).values())

    def finish_e2e(self, setup_s: float, throughput: float) -> None:
        self.e2e.update(setup_s=setup_s, op_p50_s=_median(self.ops), throughput_per_s=throughput)
        n = len(self.ops)
        self.record["samples"]["op"] = n
        self.record["op_latencies_s"] = [round(x, 4) for x in self.ops]
        if n >= 100:
            self.record["op_p90_s"] = float(np.percentile(self.ops, 90))
        elif n >= 20:
            # highest percentile with at least ten samples above it
            pct = 100.0 * (n - 10) / n
            self.record[f"op_p{pct:.0f}_s"] = float(np.percentile(self.ops, pct))
        if self.tracer.enabled:
            self.layers["trace.op_p50_s"] = _median(self.ops)
            self.layers["trace.bookkeeping_s_per_op"] = self.tracer.bookkeeping_s / max(1, n)

    def kernel_layers(self) -> None:
        if not self.tracer.enabled:
            return
        import kernels

        rows = gen.gen_rows(self.seed, 10**7, kernels.SAMPLE_DOCS)
        self.layers.update(kernels.kernel_rates([r[4] for r in rows]))

    def layer_self_times(self) -> dict[str, float]:
        return self_times(self.tracer.spans)


# ======================================================== builds and opens
def _build(run: Run, corpus, wh: str):
    """``build_index`` + ``InvertedIndex.save`` into ``wh``, as one request
    of the "builder" job group. Returns the index and its wall seconds."""
    from lucenenet_spark.index.builder import CorpusSpec, build_index

    t0 = time.perf_counter()
    with run.tracer.request(run.sc, "build", "builder"):
        with run.tracer.span("builder.build_index"):
            idx = build_index(run.spark, corpus, CorpusSpec())
        with run.tracer.span("builder.save"):
            idx.save(wh)
    return idx, time.perf_counter() - t0


def _open(run: Run, wh: str, q, expect, what: str):
    """Load the warehouse, make an ``IndexSearcher`` and run its first
    search, checked against ``expect``. Returns the searcher, the seconds of
    the whole open and those of the first search alone."""
    from lucenenet_spark.index.builder import InvertedIndex
    from lucenenet_spark.search.searcher import IndexSearcher

    run.attempt()
    t0 = time.perf_counter()
    with run.tracer.request(run.sc, "open", "open"):
        with run.tracer.span("builder.open"):
            s = IndexSearcher(InvertedIndex.load(run.spark, wh))
        t1 = time.perf_counter()
        hits = _search(run, s, q)
    t2 = time.perf_counter()
    if hits != expect:
        run.fail(f"open: first search {what} differs from the oracle")
    return s, t2 - t0, t2 - t1


def _builder_layers(run: Run, builds: int, opens: list[float], s, wh: str, corpus_bytes: int) -> None:
    """builder.* per-layer metrics: span self times per build, Spark counts
    of the median build, and the shape of the opened index."""
    st = run.layer_self_times()
    nb = max(1, builds)
    run.layers["builder.build_index_s"] = st.get("builder.build_index", 0.0) / nb
    run.layers["builder.save_s"] = st.get("builder.save", 0.0) / nb
    run.layers["builder.open_s"] = _median(opens)
    counts = run.spark_counts("builder")
    run.layers["builder.spark_jobs"] = _median([c["jobs"] for c in counts])
    run.layers["builder.spark_tasks"] = _median([c["tasks"] for c in counts])
    run.layers["builder.task_busy_s"] = _median([c["busy_s"] for c in counts])
    _add_failed_tasks(run, counts)
    run.layers["builder.index_bytes"] = dir_bytes(wh)
    run.layers["builder.corpus_bytes"] = corpus_bytes
    run.layers["builder.terms"] = s.index.term_stats.count()
    run.layers["builder.blocks"] = s.index.packed.count()


def _add_failed_tasks(run: Run, counts: list[dict]) -> None:
    run.layers["spark.failed_tasks"] = run.layers.get("spark.failed_tasks", 0) + sum(
        c["failed_tasks"] for c in counts
    )


# =================================================================== bulk_build
def bulk_build(run: Run) -> None:
    from lucenenet_spark.oracle import OracleIndex, OracleSearcher
    from lucenenet_spark.functions.smallfloat import norm_byte_from_length
    from lucenenet_spark.search.queries import TermQuery

    n = run.size["bulk_docs"]
    probe = gen.HEAD[run.seed % 3 * 2]  # "return", "value" or "self"
    path, rows = gen_corpus(run.work, run.seed, n)
    fls, df, ttf, probe_freq = checks.term_counts([r[4] for r in rows], probe)
    oracle = OracleIndex(
        postings={probe: {d: (f, []) for d, f in probe_freq.items()}},
        norms=norm_byte_from_length(fls), field_lengths=fls,
        max_doc=n, sum_total_term_freq=int(fls.sum()),
    )
    expect_probe = checks.bits(OracleSearcher(oracle).search(TermQuery(term=probe), checks.K))
    want_ts = {t: (df[t], ttf[t]) for t in df}
    corpus_bytes = content_bytes(rows)

    session_s = run.start_session()
    loads = []
    for _ in range(OPEN_REPEATS):
        t0 = time.perf_counter()
        corpus = run.spark.read.parquet(path)
        corpus.count()
        loads.append(time.perf_counter() - t0)
    setup_s = session_s + _median(loads)

    builds, wh_prev = [], None
    t_start = time.perf_counter()
    deadline = t_start + run.seconds
    i = 0
    while i < 2 or time.perf_counter() < deadline:
        wh = os.path.join(run.work, f"bulk_{i}")
        i += 1
        run.attempt()
        try:
            idx, dt = _build(run, corpus, wh)
        except Exception as e:  # a failed build is counted, the loop goes on
            run.fail(f"build: {e!r}")
            continue
        builds.append(dt)
        # verification is outside the timed build
        got_ts = {r["term"]: (int(r["df"]), int(r["ttf"])) for r in idx.term_stats.collect()}
        if (idx.max_doc, idx.sum_total_term_freq) != (n, int(fls.sum())) or got_ts != want_ts:
            run.fail(f"build {i - 1}: corpus stats or term df/ttf differ from the oracle")
        idx.unpersist()
        if wh_prev:
            shutil.rmtree(wh_prev, ignore_errors=True)
        wh_prev = wh
    wall = time.perf_counter() - t_start
    run.ops = builds[1:]
    run.record["samples"]["builds"] = len(builds)
    run.record["build_runs_s"] = builds

    s, open_s, _ = _open(run, wh_prev, TermQuery(term=probe), expect_probe, f"term {probe}")
    index_bytes = dir_bytes(wh_prev)

    warm = _median(builds[1:])
    run.finish_e2e(setup_s, n / warm)
    run.record.update(
        build_docs_per_s=n / warm, build_cold_s=builds[0] if builds else None,
        index_bytes_ratio=index_bytes / corpus_bytes, docs=n, loop_wall_s=wall,
    )
    if run.tracer.enabled:
        _builder_layers(run, len(builds), [open_s], s, wh_prev, corpus_bytes)
        _searcher_layers(run, "open", [])
        run.kernel_layers()


# ================================================================ query workloads
def _open_index(run: Run, path: str, rows, exp: "checks.Expected", first: tuple):
    """Build + save the index, then open it OPEN_REPEATS times (load +
    IndexSearcher + first search). Returns the last searcher, the warehouse
    path, the set-up seconds after session start, and the cold query."""
    t0 = time.perf_counter()
    corpus = run.spark.read.parquet(path)
    corpus.count()
    load_s = time.perf_counter() - t0
    wh = os.path.join(run.work, "index")
    run.attempt()
    idx, build_s = _build(run, corpus, wh)
    idx.unpersist()
    opens, cold = [], None
    for _ in range(OPEN_REPEATS):
        s, open_s, first_s = _open(run, wh, checks.to_query(first), exp.answer(first), str(first))
        opens.append(open_s)
        cold = first_s if cold is None else cold
    if run.tracer.enabled:
        _builder_layers(run, 1, opens, s, wh, content_bytes(rows))
    run.layers["searcher.cold_query_s"] = cold
    return s, wh, load_s + build_s + _median(opens), cold


def trace_planning(tracer: Tracer) -> None:
    """Record every outermost ``IndexSearcher.search_df`` call as a
    ``searcher.plan`` span, by wrapping the method from outside. The traced
    run thus calls ``search()`` exactly as the untraced one does; planning
    is the time in ``search_df`` and execution the rest of ``search()``."""
    from lucenenet_spark.search.searcher import IndexSearcher

    inner = IndexSearcher.search_df

    def search_df(self, *args, **kwargs):
        if tracer.active("searcher.plan"):
            return inner(self, *args, **kwargs)
        with tracer.span("searcher.plan"):
            return inner(self, *args, **kwargs)

    IndexSearcher.search_df = search_df


def _search(run: Run, s, q) -> list[tuple[int, int]]:
    """``s.search(q, 10)`` as (docid, score bits)."""
    with run.tracer.span("searcher.search"):
        hits = s.search(q, checks.K)
    return checks.bits((h.docid, h.score) for h in hits)


def _one_query(run: Run, s, spec: tuple, layer: str):
    """One request; returns the answer in the form checks.Expected gives."""
    from lucenenet_spark.search import spans

    q = checks.to_query(spec)
    with run.tracer.request(run.sc, "query", layer, cls=checks.CLASS_OF[spec[0]]):
        if spec[0] != "span":
            return _search(run, s, q)
        with run.tracer.span("spans.plan"):
            df = spans.span_query(s, q)
        with run.tracer.span("spans.exec"):
            pdf = df.toPandas()
        return set(pdf["docid"].astype(int))


def _query_loop(
    run: Run, s, stream: list[tuple], clients: int, seconds: float, layer: str = "searcher"
) -> tuple[list[tuple], float]:
    """Closed loop: each client sends its next request when the previous one
    returns, until ``seconds`` have passed or the stream is used up.
    Returns ((spec, latency, answer-or-None) per request, wall time)."""
    done: list[tuple] = []
    nxt = iter(range(len(stream)))
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds

    def client():
        while time.perf_counter() < deadline:
            with lock:
                i = next(nxt, None)
            if i is None:
                return
            spec = stream[i]
            run.attempt()
            t0 = time.perf_counter()
            try:
                ans = _one_query(run, s, spec, layer)
            except Exception as e:  # counted as a failed request
                run.fail(f"query {spec}: {e!r}")
                ans = None
            with lock:
                done.append((spec, time.perf_counter() - t0, ans))

    threads = [threading.Thread(target=client) for _ in range(clients)]
    t_start = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return done, time.perf_counter() - t_start


def _plan_exec(d: dict[str, float]) -> tuple[float, float]:
    """(planning, execution) seconds of one request from its spans' total
    durations by name: ``search_df``, then the rest of ``search()``; or
    ``span_query``, then ``toPandas``."""
    plan = d.get("searcher.plan", 0.0)
    exe = d.get("searcher.search", 0.0) - plan
    return plan + d.get("spans.plan", 0.0), exe + d.get("spans.exec", 0.0)


def _searcher_layers(run: Run, layer: str, done: list[tuple], exp=None, blocks=None) -> None:
    """searcher.* per-layer metrics from the spans and job groups of the
    requests of ``layer``. ``done`` holds the client-side latencies of
    those requests, which planning plus execution must add up to."""
    spans_ = run.tracer.spans
    reqs = {s["request"]: s for s in spans_ if s["parent"] is None and s["request"]
            and run.tracer.groups.get(s["request"]) == layer}
    by_req: dict[str, dict[str, float]] = {r: {} for r in reqs}
    for sp in spans_:
        if sp["request"] in reqs and sp["parent"] is not None:
            d = by_req[sp["request"]]
            d[sp["name"]] = d.get(sp["name"], 0.0) + sp["end"] - sp["start"]
    split = {r: _plan_exec(d) for r, d in by_req.items()}
    plan = sum(p for p, _ in split.values())
    exe = sum(e for _, e in split.values())
    n = max(1, len(split))
    run.layers["searcher.plan_s"] = plan / n
    run.layers["searcher.exec_s"] = exe / n
    run.layers["spans.exec_s"] = sum(d.get("spans.exec", 0.0) for d in by_req.values()) / n
    for cls in checks.CLASSES:
        rs = [r for r in split if reqs[r].get("cls") == cls]
        for i, part in enumerate(("plan", "exec")):
            v = [split[r][i] for r in rs]
            run.layers[f"searcher.{part}_s.{cls}"] = sum(v) / len(v) if v else 0.0
    if done:  # query workloads: plan + exec against the latency clients saw
        lat = sum(x for _, x, _ in done)
        gap = abs(plan + exe - lat) / lat
        ok = gap <= RECONCILE_TOL and len(split) == len(done)
        run.layers["searcher.reconcile_gap"] = gap
        run.record["reconcile"] = {
            "plan_s": plan, "exec_s": exe, "client_latency_s": lat, "requests": len(done),
            "traced_requests": len(split), "gap": gap, "tolerance": RECONCILE_TOL, "ok": ok,
        }
        if not ok:
            run.fail(f"reconcile: plan + exec is off client latency by {gap:.3f} "
                     f"(tolerance {RECONCILE_TOL}) or requests differ ({len(split)} vs {len(done)})")
    counts = run.spark_counts(layer)
    m = max(1, len(counts))
    run.layers["searcher.spark_jobs_per_query"] = sum(c["jobs"] for c in counts) / m
    run.layers["searcher.spark_tasks_per_query"] = sum(c["tasks"] for c in counts) / m
    run.layers["searcher.task_busy_s_per_query"] = sum(c["busy_s"] for c in counts) / m
    run.layers["searcher.sched_wait_s_per_query"] = sum(c["wait_s"] for c in counts) / m
    _add_failed_tasks(run, counts)
    if exp is not None and blocks is not None and done:
        run.layers["searcher.blocks_per_query"] = float(np.mean(
            [sum(blocks.get(t, 0) for t in exp.terms(spec)) for spec, _, _ in done]
        ))
        run.layers["searcher.match_ratio"] = float(np.mean(
            [min(checks.K, c) / c if (c := exp.count(spec)) else 1.0 for spec, _, _ in done]
        ))


def _queries(run: Run, heavy: bool) -> None:
    from lucenenet_spark.oracle import build_oracle_index
    from lucenenet_spark.analysis.analyzer import analyze
    from pyspark.sql import functions as F

    n = run.size["index_docs"]
    path, rows = gen_corpus(run.work, run.seed, n)
    oracle = build_oracle_index([r[4] for r in rows])
    exp = checks.Expected(oracle)
    if heavy:
        stream = gen.heavy_stream(run.seed, 2000)
        clients = cpus()
    else:
        df = {t: len(p) for t, p in oracle.postings.items()}
        toks = [analyze(r[4]) for r in rows[: min(n, 1500)]]
        stream = gen.point_stream(run.seed, df, n, toks, 2000)
        clients = 1
    first = ("term", gen.HEAD[0]) if heavy else stream[-1]

    session_s = run.start_session()
    s, wh, setup_rest, cold = _open_index(run, path, rows, exp, first)
    # warm-up, counted in set-up: the first requests after open run slower
    # (JIT, Python worker start), which would drift the timed window
    warmup = stream[-WARMUP_REQUESTS - 1 : -1]
    warm, warm_s = _query_loop(run, s, warmup, clients, float("inf"), "warmup")
    setup_s = session_s + setup_rest + warm_s

    done, wall = _query_loop(run, s, stream, clients, run.seconds)
    run.ops = [lat for _, lat, _ in done]
    wrong = 0
    for spec, _, ans in done + warm:
        if ans is not None and ans != exp.answer(spec):
            wrong += 1
            run.fail(f"wrong answer: {spec}")
    run.record["wrong_answers"] = wrong
    run.record["distinct_queries"] = len({spec for spec, _, _ in done})
    run.record.update(loop_wall_s=wall, warmup_s=warm_s)
    run.finish_e2e(setup_s, len(done) / wall)
    run.record.update(
        query_p50_s=run.e2e["op_p50_s"], qps=len(done) / wall, clients=clients,
        cold_query_s=cold, index_bytes_ratio=dir_bytes(wh) / content_bytes(rows), docs=n,
    )
    per_class: dict[str, list[float]] = {}
    for spec, lat, _ in done:
        per_class.setdefault(checks.CLASS_OF[spec[0]], []).append(lat)
    run.record["p50_s_by_class"] = {c: _median(v) for c, v in per_class.items()}
    run.record["samples"]["by_class"] = {c: len(v) for c, v in per_class.items()}
    if run.tracer.enabled:
        blocks = {r["term"]: int(r["n"]) for r in
                  s.index.packed.groupBy("term").agg(F.count("*").alias("n")).collect()}
        _searcher_layers(run, "searcher", done, exp, blocks)
        run.kernel_layers()
        # the streaming layers, measured after the timed window on a
        # warehouse of their own: one round of nrt_churn
        churn = _churn(run, run.size["batch_docs"], seconds=0.0, opens=1)
        _churn_layers(run, churn)
        run.record["nrt_round"] = churn["record"]


def point_queries(run: Run) -> None:
    _queries(run, heavy=False)


def heavy_queries(run: Run) -> None:
    _queries(run, heavy=True)


# ===================================================================== nrt_churn
def _churn(run: Run, nb: int, seconds: float, opens: int, max_batches: int = 64) -> dict:
    """Near-real-time churn on a sharded warehouse of its own. Set-up: a
    seed shard of 2 * ``nb`` docs and ``opens`` checked opens of the live
    reader. Then rounds until ``seconds`` have passed (at least one round):
    two micro-batches of ``nb`` docs, each appended, a few of its docs
    deleted, and a new live reader opened and searched (read-your-writes,
    no tombstoned docid returned); then a tiered merge. Ends with an all-ok
    ``check_index``. Returns the timings."""
    from lucenenet_spark.functions.smallfloat import NORM_TABLE, norm_byte_from_length
    from lucenenet_spark.index.checkpoint import check_index, read_manifest
    from lucenenet_spark.index.compaction import compact_shards
    from lucenenet_spark.search.queries import TermQuery
    from lucenenet_spark.search.searcher import IndexSearcher
    from lucenenet_spark.streaming.ingest import append_batch, delete_docs, load_live

    marker = lambda b: f"nrtmark{b}x"  # noqa: E731  one token, unique per batch
    seed_rows = gen.gen_rows(run.seed, 0, 2 * nb, tag=marker(0))

    def batch_rows(b):
        return gen.gen_rows(run.seed, (b + 1) * nb, nb, tag=marker(b))

    spark = run.spark
    wh = os.path.join(run.work, "nrt")
    deleted: set[int] = set()
    appended_bytes = 0
    written = 0

    def to_df(rows):
        return spark.createDataFrame(rows, list(gen.COLUMNS))

    def ranked(rows, rec) -> list[int]:
        """The batch's docids as its marker term ranks them: freq is 1 in
        every doc, so shorter fields score higher; docid ascending on ties."""
        ordered = gen.in_docid_order(rows)
        base = int(rec["doc_base"])
        lens = NORM_TABLE[norm_byte_from_length(checks.analyzed_lengths([r[4] for r in ordered]))]
        return [d for _, d in sorted((float(lens[i]), base + i) for i in range(len(ordered)))]

    def visible_check(b: int, rows, rec, hits: list[int]) -> None:
        if hits != [d for d in ranked(rows, rec) if d not in deleted][: checks.K]:
            run.fail(f"batch {b}: read-your-writes top-10 differs from the expected docids")
        if deleted & set(hits):
            run.fail(f"batch {b}: a tombstoned docid was returned")

    def open_and_search(b: int):
        with run.tracer.span("ingest.open"):
            idx, tombs = load_live(spark, wh)
            s = IndexSearcher(idx, tombstones=tombs)
        with run.tracer.span("ingest.first_query"):
            return [d for d, _ in _search(run, s, TermQuery(term=marker(b)))]

    # set-up: seed shard, then open the live reader
    run.attempt()
    t0 = time.perf_counter()
    with run.tracer.request(run.sc, "append", "ingest"):
        with run.tracer.span("ingest.append"):
            rec0 = append_batch(to_df(seed_rows), wh, batch_id=0)
    seed_append = time.perf_counter() - t0
    appended_bytes += content_bytes(seed_rows)
    written += dir_bytes(wh)
    open_s = []
    for _ in range(opens):
        run.attempt()
        t1 = time.perf_counter()
        with run.tracer.request(run.sc, "open", "ingest.open"):
            hits = open_and_search(0)
        open_s.append(time.perf_counter() - t1)
        visible_check(0, seed_rows, rec0, hits)

    visible, appends, compactions, delete_s = [], [], [], []
    docs_in = 0
    b = 1
    t_start = time.perf_counter()
    deadline = t_start + seconds
    while b == 1 or (time.perf_counter() < deadline and b + 2 <= max_batches):
        for _ in range(2):  # a round: two micro-batches, then a tiered merge
            rows = batch_rows(b)
            df = to_df(rows)
            run.attempt(3)
            before = dir_bytes(wh)
            t0 = time.perf_counter()
            try:
                with run.tracer.request(run.sc, "append", "ingest"):
                    with run.tracer.span("ingest.append"):
                        rec = append_batch(df, wh, batch_id=b)
                t1 = time.perf_counter()
                written += dir_bytes(wh) - before
                victims = ranked(rows, rec)[:NRT_DELETES]
                t_del = time.perf_counter()
                with run.tracer.request(run.sc, "delete", "delete"):
                    with run.tracer.span("ingest.delete"):
                        delete_docs(spark, wh, victims)
                deleted.update(victims)
                t2 = time.perf_counter()
                with run.tracer.request(run.sc, "read", "ingest.read"):
                    hits = open_and_search(b)
                t3 = time.perf_counter()
            except Exception as e:  # counted; the round goes on
                run.fail(f"batch {b}: {e!r}")
                b += 1
                continue
            visible.append((t1 - t0) + (t3 - t2))
            appends.append(t1 - t0)
            delete_s.append(t2 - t_del)
            appended_bytes += content_bytes(rows)
            docs_in += len(rows)
            visible_check(b, rows, rec, hits)
            b += 1
        run.attempt()
        t0 = time.perf_counter()
        try:
            with run.tracer.request(run.sc, "compact", "compaction"):
                with run.tracer.span("compaction.compact"):
                    crec = compact_shards(spark, wh, max_merge_docs=nb)
        except Exception as e:
            run.fail(f"compaction: {e!r}")
            continue
        compactions.append((time.perf_counter() - t0, crec))
        if crec:
            written += dir_bytes(os.path.join(wh, "shards", str(crec["shard"])))
    wall = time.perf_counter() - t_start

    run.attempt()
    t0 = time.perf_counter()
    with run.tracer.span("checkpoint.check_index"):
        report = check_index(spark, wh)
    check_s = time.perf_counter() - t0
    if not report or not all(r["ok"] for r in report.values()):
        run.fail("check_index: not all shards ok")
    index_bytes = dir_bytes(wh)

    compact_mean = float(np.mean([c for c, _ in compactions])) if compactions else None
    return {
        "setup_s": seed_append + _median(open_s), "visible": visible, "appends": appends,
        "delete_s": delete_s, "compactions": compactions, "check_s": check_s,
        "docs_in": docs_in, "wall": wall, "written": written, "appended_bytes": appended_bytes,
        "shards_live": len(read_manifest(wh)),
        "record": {
            "visible_p50_s": _median(visible), "churn_docs_per_s": docs_in / wall,
            "compact_s": compact_mean, "visible_cold_s": seed_append + open_s[0],
            "index_bytes_ratio": index_bytes / appended_bytes, "batches": b - 1,
            "compactions": len(compactions), "loop_wall_s": wall, "batch_docs": nb,
            "check_index_s": check_s,
        },
    }


def _churn_layers(run: Run, churn: dict) -> None:
    """ingest.*, compaction.* and checkpoint.* per-layer metrics."""
    run.layers["ingest.append_s"] = _median(churn["appends"])
    run.layers["ingest.delete_s"] = _median(churn["delete_s"])
    for name in ("ingest.open", "ingest.first_query"):
        run.layers[name + "_s"] = _median(
            [s["end"] - s["start"] for s in run.tracer.spans if s["name"] == name])
    c = run.spark_counts("ingest")
    run.layers["ingest.spark_jobs_per_append"] = _median([x["jobs"] for x in c])
    _add_failed_tasks(run, c + run.spark_counts("ingest.read") + run.spark_counts("compaction"))
    run.layers["ingest.write_amp"] = churn["written"] / churn["appended_bytes"]
    run.layers["ingest.shards_live"] = churn["shards_live"]
    done = [r for _, r in churn["compactions"] if r]
    run.layers["compaction.compact_s"] = churn["record"]["compact_s"] or 0.0
    run.layers["compaction.bytes_rewritten"] = float(np.mean(
        [int(r.get("bytes", 0)) for r in done] or [0]))
    run.layers["compaction.shards_merged"] = float(np.mean(
        [len(r.get("supersedes", [])) for r in done] or [0]))
    run.layers["checkpoint.check_index_s"] = churn["check_s"]


def nrt_churn(run: Run) -> None:
    session_s = run.start_session()
    churn = _churn(run, run.size["batch_docs"], run.seconds, OPEN_REPEATS)
    run.ops = churn["visible"]
    run.finish_e2e(session_s + churn["setup_s"], churn["docs_in"] / churn["wall"])
    run.record.update(churn["record"])
    run.record["samples"].update(
        visible=len(churn["visible"]), compactions=len(churn["compactions"]))
    if run.tracer.enabled:
        _churn_layers(run, churn)
        _searcher_layers(run, "ingest.read", [])
        run.kernel_layers()


WORKLOADS = {
    "bulk_build": bulk_build,
    "point_queries": point_queries,
    "heavy_queries": heavy_queries,
    "nrt_churn": nrt_churn,
}
