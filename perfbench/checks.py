"""Expected answers, computed outside every timed region.

Ranked queries are checked against ``lucenenet_spark.oracle.OracleSearcher``
over the same corpus in (repo, path, commit) order: top-10 docids and the
float32 bits of every score must be equal. Unranked span-near is checked
as a docid set against a brute-force scan of the oracle's positions.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

K = 10
SPAN_SLOP = 2


def to_query(spec: tuple):
    """Program query object for one generated query tuple."""
    from lucenenet_spark.search import spans
    from lucenenet_spark.search.queries import (
        BooleanQuery,
        DisjunctionMaxQuery,
        FuzzyQuery,
        MultiPhraseQuery,
        Occur,
        PhraseQuery,
        PrefixQuery,
        TermQuery,
    )

    kind, *t = spec
    T = lambda term: TermQuery(term=term)  # noqa: E731
    if kind == "term":
        return T(t[0])
    if kind == "or":
        return BooleanQuery.of((T(t[0]), Occur.SHOULD), (T(t[1]), Occur.SHOULD))
    if kind == "and":
        return BooleanQuery.of((T(t[0]), Occur.MUST), (T(t[1]), Occur.MUST))
    if kind == "not":
        return BooleanQuery.of((T(t[0]), Occur.MUST), (T(t[1]), Occur.MUST_NOT))
    if kind == "msm":
        return BooleanQuery.of(*[(T(x), Occur.SHOULD) for x in t], min_should_match=2)
    if kind == "dismax":
        return DisjunctionMaxQuery(disjuncts=(T(t[0]), T(t[1])), tie_breaker=0.1)
    if kind == "prefix":
        return PrefixQuery(prefix=t[0])
    if kind == "fuzzy":
        # plain Levenshtein: OracleSearcher scores fuzzy expansions by
        # Levenshtein similarity, so the transposition-aware default is not
        # oracle-checkable
        return FuzzyQuery(term=t[0], max_edits=1, transpositions=False)
    if kind == "phrase":
        return PhraseQuery(phrase_terms=(t[0], t[1]))
    if kind == "sloppy":
        return PhraseQuery(phrase_terms=(t[0], t[1]), slop=2)
    if kind == "multiphrase":
        return MultiPhraseQuery(slots=((t[0],), (t[1], t[2])))
    if kind == "span":
        return spans.SpanNearQuery(
            (spans.SpanTermQuery(t[0]), spans.SpanTermQuery(t[1])), slop=SPAN_SLOP, in_order=True
        )
    raise ValueError(kind)


# query kind -> the searcher class it is reported under
CLASS_OF = {
    "term": "term", "or": "bool", "and": "bool", "not": "bool", "msm": "bool",
    "dismax": "dismax", "prefix": "multiterm", "fuzzy": "multiterm",
    "phrase": "phrase", "sloppy": "sloppy", "multiphrase": "multiphrase", "span": "span",
}
CLASSES = ("term", "bool", "dismax", "multiterm", "phrase", "sloppy", "multiphrase", "span")


def bits(pairs) -> list[tuple[int, int]]:
    """(docid, float32 score bits) pairs."""
    return [(int(d), int(np.float32(s).view(np.uint32))) for d, s in pairs]


def span_near_docids(index, a: str, b: str, slop: int = SPAN_SLOP) -> set[int]:
    """Docs with an occurrence of ``a`` followed by ``b`` with at most
    ``slop`` positions between them (ordered, non-overlapping)."""
    pa, pb = index.postings.get(a, {}), index.postings.get(b, {})
    out = set()
    for d in pa.keys() & pb.keys():
        xa = np.asarray(pa[d][1])
        xb = np.asarray(pb[d][1])
        gap = xb[None, :] - xa[:, None] - 1
        if ((gap >= 0) & (gap <= slop)).any():
            out.add(d)
    return out


class Expected:
    """Memoised expected answers for one oracle index."""

    def __init__(self, index):
        from lucenenet_spark.oracle import OracleSearcher

        self.index = index
        self.searcher = OracleSearcher(index)
        self._memo: dict[tuple, object] = {}

    def answer(self, spec: tuple):
        if spec not in self._memo:
            if spec[0] == "span":
                self._memo[spec] = span_near_docids(self.index, spec[1], spec[2])
            else:
                self._memo[spec] = bits(self.searcher.search(to_query(spec), K))
        return self._memo[spec]

    def count(self, spec: tuple) -> int:
        if spec[0] == "span":
            return len(self.answer(spec))
        return self.searcher.count(to_query(spec))

    def terms(self, spec: tuple) -> list[str]:
        """Index terms a query reads, after multi-term expansion."""
        q = to_query(spec)
        if spec[0] in ("prefix", "fuzzy"):
            return [t for t in self.index.terms if q.python_predicate(t)]
        return [t for t in spec[1:] if t in self.index.postings]


def term_counts(texts: list[str], probe: str) -> tuple[np.ndarray, Counter, Counter, dict[int, int]]:
    """Field lengths, df and ttf of every term, and the per-doc freq of
    ``probe``: the build-side oracle."""
    from lucenenet_spark.analysis.analyzer import analyze

    fls = np.zeros(len(texts), dtype=np.int64)
    df: Counter = Counter()
    ttf: Counter = Counter()
    probe_freq: dict[int, int] = {}
    for d, text in enumerate(texts):
        c = Counter(t for t, _ in analyze(text or ""))
        fls[d] = sum(c.values())
        df.update(c.keys())
        ttf.update(c)
        if probe in c:
            probe_freq[d] = c[probe]
    return fls, df, ttf, probe_freq


def analyzed_lengths(texts: list[str]) -> np.ndarray:
    from lucenenet_spark.analysis.analyzer import analyze

    return np.array([len(analyze(t or "")) for t in texts], dtype=np.int64)
