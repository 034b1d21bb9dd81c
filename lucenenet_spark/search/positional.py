"""The bucket positional kernel — one physical plan shared by every
positional operator: PhraseQuery, MultiPhraseQuery, ``span_query`` and
``span_query_scored`` (the distributed analog of Lucene's per-segment
ExactPhraseScorer / SloppyPhraseScorer / NearSpans with skip lists).

Physical shape: ONE scan of the packed table filtered to the query's
terms (parquet term-IN pushdown), ONE narrow shuffle of the
still-compressed blocks keyed by bucket, then a single
``applyInPandas`` stage per bucket that

1. delta-decodes docids only (cheap; positions stay encoded),
2. intersects the required slots' docid unions (the conjunction),
3. decodes positions and norms ONLY for blocks holding a surviving
   candidate (the skip-list block skipping), lifting positions to
   doc-encoded keys ``docid·2³² + position`` so a whole bucket's
   position math is a handful of numpy set ops, not a per-doc loop,
4. hands ``(cand, norms, keys)`` to the query's per-bucket evaluator.

Buckets are docid-DISJOINT by construction (``builder.py`` range
buckets), so every match is certified inside one bucket. Group size is
bounded (≤ |terms| × 64 blocks per bucket, BUCKET_DOCS = 128·64), so
there is no group skew at any corpus size; parallelism = number of
buckets, which grows with the corpus.

Offsets and the doc lane: an evaluator that shifts a key by a phrase
offset ``r`` stores ``key - r + B`` with the lane bias
``B = max(0, *rels)`` (:func:`lane_bias`), so ``pos - r + B >= 0``
never borrows into the previous doc's lane.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucenenet_spark.functions.sloppy import (
    sloppy_freq_2slot_encoded,
    sloppy_phrase_freq,
)
from lucenenet_spark.functions.varbyte import (
    decode_freqs,
    decode_positions_flat,
    delta_decode_docids,
    gather_ranges,
)

SHIFT = np.int64(1) << np.int64(32)
MASK = SHIFT - np.int64(1)
# positions are int32 (< 2³¹), so a shifted key pos - r + B stays inside
# its doc's 2³² lane whenever the offsets' spread is below 2³¹
MAX_OFFSET_SPREAD = 1 << 31
_PANDAS_DTYPES = {"long": "int64", "float": "float32"}


def lane_bias(rels) -> int:
    """The lane bias ``B = max(0, *rels)`` for phrase offsets ``rels``.
    Raises ValueError (at plan time, before any Spark job) when the
    offsets' spread cannot fit the doc-encoded position lane."""
    lo, hi = min(0, *rels), max(0, *rels)
    if hi - lo >= MAX_OFFSET_SPREAD:
        raise ValueError(
            f"phrase term positions {tuple(rels)} spread {hi - lo} >= 2^31: "
            "they cannot fit the doc-encoded position lane"
        )
    return hi


def bucket_kernel(
    searcher, terms, slots, evaluate, schema: str
) -> DataFrame:
    """Run ``evaluate(cand, norms, keys)`` once per docid bucket over
    the packed blocks of ``terms``.

    ``slots``: the required conjunction — a doc is a candidate iff it
    holds >= 1 term of every slot (a SUPERSET certificate of the
    matches). ``cand``: sorted candidate docids; ``norms``: their norm
    bytes; ``keys``: term -> list of sorted doc-encoded key arrays (one
    per decoded block, candidates only). The evaluator returns a pandas
    frame of ``schema`` (a ``"name type, ..."`` DDL string) or None for
    no rows."""
    blocks = searcher.index.packed.where(
        F.col("term").isin(sorted(set(terms)))
    ).select("term", "bucket", "docs_enc", "freqs_enc", "norms_enc", "positions_enc")
    empty = pd.DataFrame(
        {
            name: pd.array([], dtype=_PANDAS_DTYPES[typ])
            for name, typ in (col.split() for col in schema.split(","))
        }
    )

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        decoded = _candidate_keys(pdf, slots)
        out = None if decoded is None else evaluate(*decoded)
        return empty if out is None else out

    # groupBy(bucket).applyInPandas — one narrow block shuffle.
    # Pre-hash over a prime partition count so distinct buckets
    # rarely collide onto one core (25 buckets into 32 partitions
    # leaves 2-3-bucket stragglers); AQE re-coalesces by size, and
    # Catalyst reuses this hash partitioning for the groupBy, so
    # it is still ONE shuffle.
    return blocks.repartition(199, "bucket").groupBy("bucket").applyInPandas(
        apply, schema=schema
    )


def _candidate_keys(pdf: pd.DataFrame, slots):
    """One bucket's ``(cand, norms, keys)``, or None when no doc holds
    every slot."""
    term_blocks: dict[str, list] = {}
    for term, de, fe, ne, pe in zip(
        pdf["term"], pdf["docs_enc"], pdf["freqs_enc"],
        pdf["norms_enc"], pdf["positions_enc"],
    ):
        term_blocks.setdefault(term, []).append(
            (delta_decode_docids(bytes(de)), fe, ne, pe)
        )
    cand = None
    for slot in slots:
        arrs = [b[0] for t in slot if t in term_blocks for b in term_blocks[t]]
        if not arrs:
            return None
        sd = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
        cand = sd if cand is None else np.intersect1d(cand, sd, assume_unique=True)
        if cand.size == 0:
            return None
    norms = np.zeros(cand.size, dtype=np.uint8)
    keys: dict[str, list] = {}
    for term, blks in term_blocks.items():
        for d, fe, ne, pe in blks:
            lo = np.searchsorted(cand, d[0])
            hi = np.searchsorted(cand, d[-1], side="right")
            if lo == hi:
                continue  # no candidate in this block: skip decode
            sub = cand[lo:hi]
            idx = np.searchsorted(d, sub)
            hit = d[idx] == sub
            if not hit.any():
                continue
            # freqs ARE the per-doc position counts: flat vectorized
            # prox decode + multi-range gather (no per-doc cumsum/list
            # building — that walk dominated span/phrase time on sf1
            # head terms)
            f = decode_freqs(bytes(fe)).astype(np.int64)
            flat, starts = decode_positions_flat(bytes(pe), f)
            nb = np.frombuffer(bytes(ne), dtype=np.uint8)
            ci = np.flatnonzero(hit) + lo
            bi = idx[hit]
            norms[ci] = nb[bi]
            lens = f[bi]
            keys.setdefault(term, []).append(
                np.repeat(cand[ci] * SHIFT, lens)
                + gather_ranges(flat, starts[bi], lens)
            )
    return cand, norms, keys


# ---------------------------------------------------- phrase evaluators

def phrase_evaluator(slots, rels, slop: int, sim, wf: float):
    """Per-bucket evaluator of an exact or sloppy (multi-)phrase — slot
    i matches where ANY of its terms sits at offset ``rels[i]``
    (UnionDocsAndPositionsEnum's merge). The query's shape picks the
    freq algorithm: exact intersection (slop 0), the 2-distinct-slot
    closed form, or the faithful PQ walk. Output ``(docid, score)``."""
    bias = lane_bias(rels)
    slot_keys = [tuple(s) for s in slots]
    w32 = np.float32(wf)

    def evaluate(cand, norms, keys):
        unions = []
        for slot in slots:
            arrs = [a for t in slot for a in keys.get(t, ())]
            if not arrs:
                return None
            unions.append(arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs)))
        if slop == 0:
            freqs = _exact_freqs(cand, unions, rels, bias)
        elif len(slots) == 2 and slot_keys[0] != slot_keys[1]:
            freqs = _sloppy_2slot_freqs(cand, unions, rels, slop)
        else:
            freqs = _sloppy_walk_freqs(cand, unions, rels, slop, bias, slot_keys)
        if freqs is None:
            return None
        m = freqs > 0
        if not m.any():
            return None
        s = sim.score(freqs[m], norms[m], w32)
        return pd.DataFrame({"docid": cand[m], "score": s.astype(np.float32)})

    return evaluate


def _exact_freqs(cand, unions, rels, bias):
    """Vectorized ExactPhraseScorer (``ExactPhraseScorer.cs:292``):
    every slot's keys shifted to the phrase start (``pos - r + B``),
    intersected across slots in one set op per slot for the whole
    bucket."""
    shifted = [u + np.int64(bias - r) for u, r in zip(unions, rels)]
    # posIndex >= 0: a phrase cannot start before the doc
    acc = shifted[0][(shifted[0] & MASK) >= bias]
    for s in shifted[1:]:
        acc = np.intersect1d(acc, s)
        if acc.size == 0:
            return None
    docs_m, counts = np.unique(acc >> np.int64(32), return_counts=True)
    freqs = np.zeros(cand.size, dtype=np.float32)
    freqs[np.searchsorted(cand, docs_m)] = counts.astype(np.float32)
    return freqs


def _sloppy_2slot_freqs(cand, unions, rels, slop):
    """Sloppy, two distinct slots (every 2-term sloppy phrase — the
    dominant shape): closed form of the PQ walk for the WHOLE bucket in
    one numpy pass (``sloppy_freq_2slot_encoded``; bit-for-bit
    property-tested against the walk). At sf1 the per-doc walk was 73%
    of the stage's single-thread time over 1.36M matching docs."""
    vd, vf = sloppy_freq_2slot_encoded(unions[0], unions[1], rels[0], rels[1], slop)
    if vd.size == 0:
        return None
    freqs = np.zeros(cand.size, dtype=np.float32)
    freqs[np.searchsorted(cand, vd)] = vf
    return freqs


def _sloppy_walk_freqs(cand, unions, rels, slop, bias, slot_keys):
    """Sloppy, general case: the faithful SloppyPhraseScorer PQ walk is
    inherently per-doc. Before looping, a VECTORIZED existence
    prefilter drops docs that cannot match: a match needs every slot
    within ``slop`` of the anchor slot's window, so for each slot take
    the nearest neighbor of every anchor key and keep only docs where
    every slot passes (a conservative superset). Skipped for
    repeated-term phrases, where collision handling can shift
    windows."""
    walk_docs = cand
    if len(set(slot_keys)) == len(slot_keys) and len(unions) > 1:
        far = np.int64(1) << np.int64(40)
        a = unions[0] + np.int64(bias - rels[0])
        live = None
        for u, r in zip(unions[1:], rels[1:]):
            b = u + np.int64(bias - r)
            ir = np.searchsorted(b, a)
            nxt = np.where(ir < b.size, b[np.minimum(ir, b.size - 1)] - a, far)
            prv = np.where(ir > 0, a - b[np.maximum(ir - 1, 0)], far)
            near = np.minimum(nxt, prv) <= slop
            ok_docs = np.unique(a[near] >> np.int64(32))
            live = ok_docs if live is None else np.intersect1d(
                live, ok_docs, assume_unique=True
            )
            if live.size == 0:
                return None
        walk_docs = live
    # per-doc slot positions via sorted-slice extraction; slice
    # boundaries computed for ALL walked docs at once
    freqs = np.zeros(cand.size, dtype=np.float32)
    w_idx = np.searchsorted(cand, walk_docs)
    bases = walk_docs * SHIFT
    bounds = [
        (np.searchsorted(u, bases), np.searchsorted(u, bases + SHIFT))
        for u in unions
    ]
    for j, i in enumerate(w_idx):
        per_doc = []
        for u, (los, his) in zip(unions, bounds):
            if los[j] == his[j]:
                break
            per_doc.append(u[los[j]:his[j]] - bases[j])
        else:
            freqs[i] = sloppy_phrase_freq(
                per_doc, slop, offsets=rels, term_keys=slot_keys
            )
    return freqs
