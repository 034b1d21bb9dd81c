"""The vectorized 2-distinct-slot sloppy frequency must match the
faithful PQ walk (``_freq_2pp``) BIT-FOR-BIT on every document — the
closed form (tag-change boundary gaps of the merged adjusted
sequence) and the float32 fold order are both pinned here."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lucenenet_spark.functions.sloppy import (
    sloppy_freq_2slot_encoded,
    sloppy_phrase_freq,
)

SHIFT = np.int64(1) << np.int64(32)


def _reference(docs, r0, r1, slop):
    """Per-doc faithful walk over the same inputs."""
    out = {}
    for docid, (p0, p1) in docs.items():
        if not p0 or not p1:
            continue
        f = sloppy_phrase_freq(
            [np.array(sorted(p0), dtype=np.int64), np.array(sorted(p1), dtype=np.int64)],
            slop,
            offsets=[r0, r1],
            term_keys=[("t0",), ("t1",)],
        )
        if f > 0:
            out[docid] = np.float32(f)
    return out


def _encoded(docs, slot):
    ks = [
        np.int64(d) * SHIFT + np.int64(p)
        for d, (p0, p1) in sorted(docs.items())
        for p in sorted((p0, p1)[slot])
    ]
    return np.array(ks, dtype=np.int64) if ks else np.empty(0, dtype=np.int64)


@st.composite
def _docs_and_offsets(draw):
    """Offsets r0, r1 drawn independently over 0..600 (r0 > r1 reaches
    the tie-break winner=1 branch; offsets >= 256 reach past any fixed
    lane cushion). Per doc, each slot's raw positions sit either within
    20 of the slot's own offset (adjusted positions overlap, so small
    slops match) or at 0..30 (adjusted positions far below 0, right at
    the doc-lane edge, matched by the large slops)."""
    r0 = draw(st.integers(min_value=0, max_value=600))
    r1 = draw(st.integers(min_value=0, max_value=600))

    def raw(r):
        if draw(st.booleans()):
            xs = draw(st.lists(st.integers(min_value=-20, max_value=20), max_size=8, unique=True))
            return [r + x for x in xs if r + x >= 0]
        return draw(st.lists(st.integers(min_value=0, max_value=30), max_size=8, unique=True))

    ids = draw(st.lists(st.integers(min_value=0, max_value=40), max_size=12, unique=True))
    return {d: (raw(r0), raw(r1)) for d in ids}, r0, r1


@given(
    _docs_and_offsets(),
    st.one_of(st.integers(min_value=0, max_value=6), st.integers(min_value=0, max_value=700)),
)
@settings(max_examples=300, deadline=None)
def test_vec_matches_walk(docs_offsets, slop):
    docs, r0, r1 = docs_offsets
    exp = _reference(docs, r0, r1, slop)
    got_docs, got_freqs = sloppy_freq_2slot_encoded(
        _encoded(docs, 0), _encoded(docs, 1), r0, r1, slop
    )
    got = {int(d): f for d, f in zip(got_docs, got_freqs)}
    assert set(got) == set(exp)
    for d in exp:
        # bit-for-bit float32 equality — fold order is pinned
        assert np.float32(got[d]).tobytes() == exp[d].tobytes(), (
            d, got[d], exp[d], docs[d])


def test_dense_sweep():
    """Exhaustive small-universe sweep: every subset pair over a
    5-position universe, slop 0..4."""
    import itertools

    uni = range(5)
    subsets = [list(c) for r in range(0, 4) for c in itertools.combinations(uni, r)]
    for slop in range(5):
        for p0 in subsets:
            for p1 in subsets:
                docs = {7: (p0, p1)}
                exp = _reference(docs, 0, 1, slop)
                gd, gf = sloppy_freq_2slot_encoded(
                    _encoded(docs, 0), _encoded(docs, 1), 0, 1, slop
                )
                got = {int(d): f for d, f in zip(gd, gf)}
                assert set(got) == set(exp), (p0, p1, slop)
                for d in exp:
                    assert np.float32(got[d]).tobytes() == exp[d].tobytes(), (
                        p0, p1, slop)


def test_multi_doc_isolation():
    """Positions at doc-lane edges must never bleed across docids
    (the lane bias protects raw_pos - offset underflow)."""
    docs = {0: ([0], [0]), 1: ([0], [1]), 2: ([5], [0])}
    r0, r1 = 0, 1
    exp = _reference(docs, r0, r1, 4)
    gd, gf = sloppy_freq_2slot_encoded(
        _encoded(docs, 0), _encoded(docs, 1), r0, r1, 4
    )
    got = {int(d): f for d, f in zip(gd, gf)}
    assert set(got) == set(exp)
    for d in exp:
        assert np.float32(got[d]).tobytes() == exp[d].tobytes()
