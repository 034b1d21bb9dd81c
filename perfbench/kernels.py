"""Single-threaded micro-timings of the analysis and functions kernels.

Runs in the driver during the traced run only, on a fixed-size seeded
sample of documents and the postings encoded from it.
"""

from __future__ import annotations

import time

import numpy as np

SAMPLE_DOCS = 300
MIN_TIME_S = 0.25  # repeat each kernel until it has run this long


def _rate(fn, units: float) -> float:
    """units processed per second, over as many calls as fill MIN_TIME_S."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_TIME_S:
            return units * n / dt


def kernel_rates(texts: list[str]) -> dict[str, float]:
    from lucenenet_spark.analysis.analyzer import analyze_series
    from lucenenet_spark.functions import bm25, varbyte
    from lucenenet_spark.functions.smallfloat import norm_byte_from_length

    analyzed = analyze_series(texts)
    n_tokens = sum(len(a) for a in analyzed)
    out = {"analysis.tokens_per_s": _rate(lambda: analyze_series(texts), n_tokens)}

    # invert the sample: per term, sorted docids, freqs, positions per doc
    inv: dict[str, dict[int, list[int]]] = {}
    for d, pairs in enumerate(analyzed):
        for t, p in pairs:
            inv.setdefault(t, {}).setdefault(d, []).append(p)
    docids = [np.fromiter(v.keys(), dtype=np.int64) for v in inv.values()]
    freqs = [np.array([len(p) for p in v.values()], dtype=np.uint64) for v in inv.values()]
    positions = [list(v.values()) for v in inv.values()]

    def encode():
        return (
            varbyte.vbyte_encode_concat([varbyte.docid_deltas(d) for d in docids] + freqs),
            [varbyte.encode_positions(p) for p in positions],
        )

    ids_freqs, pos_enc = encode()
    docs_enc = ids_freqs[: len(docids)]
    enc_mb = (sum(map(len, ids_freqs)) + sum(map(len, pos_enc))) / 1e6
    out["codec.encode_mb_per_s"] = _rate(encode, enc_mb)

    def decode():
        for de, pe, f in zip(docs_enc, pos_enc, freqs):
            varbyte.delta_decode_docids(de)
            varbyte.decode_positions_flat(pe, f)

    out["codec.decode_mb_per_s"] = _rate(decode, (sum(map(len, docs_enc)) + sum(map(len, pos_enc))) / 1e6)

    fls = np.array([len(a) for a in analyzed], dtype=np.int64)
    norms = norm_byte_from_length(fls)
    all_f = np.concatenate(freqs).astype(np.int64)
    all_n = norms[np.concatenate(docids)]
    cache = bm25.norm_cache(bm25.avg_field_length(int(fls.sum()), len(texts)))
    w = bm25.term_weight(bm25.idf(10, len(texts)))
    out["bm25.scores_per_s"] = _rate(lambda: bm25.score(all_f, all_n, w, cache), all_f.size)
    return out
