"""Seeded inputs owned by the benchmark: the corpus and every query stream.

The corpus follows the engine's input shape ``(repo, path, commit, lang,
content)``: a Zipf-skewed identifier vocabulary of 5,000 entries, six head
terms in most documents, keywords, numerics and English stopwords, 20-400
tokens per document (10% of documents 400-2,000). Every row is a pure
function of ``(seed, docid)``. Nothing here imports the program: the program
only receives what this module generates.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

EXTS = ("py", "cs", "java", "md")
LANGS = {"py": "python", "cs": "csharp", "java": "java", "md": "markdown"}
DIRS = ("core", "util", "io", "index", "search")
KINDS = ("mod", "lib", "svc", "impl")
HEAD = ("return", "if", "value", "data0", "self", "x")
KEYWORDS = ("class", "def", "import", "public", "static", "void", "int", "string")
STOPS = ("the", "a", "of", "to", "in", "is", "for")
SYLLABLES = (
    "foo", "bar", "baz", "qux", "get", "set", "run", "calc", "parse", "node",
    "tree", "hash", "map", "list", "util", "core", "spark", "index", "merge",
    "scan", "read", "write", "batch", "shard",
)
COLUMNS = ("repo", "path", "commit", "lang", "content")


def vocab(seed: int, n: int = 5000) -> np.ndarray:
    """Identifier vocabulary: snake_case, camelCase, dotted and plain."""
    rng = np.random.default_rng([seed, 0x766F63])
    a = rng.choice(np.array(SYLLABLES), n)
    b = rng.choice(np.array(SYLLABLES), n)
    style = rng.integers(0, 4, n)
    out = np.empty(n, dtype=object)
    for i in range(n):
        if style[i] == 0:
            out[i] = f"{a[i]}_{b[i]}_{i}"
        elif style[i] == 1:
            out[i] = f"{a[i]}{b[i].capitalize()}{i}"
        elif style[i] == 2:
            out[i] = f"{a[i]}{i}.{b[i]}{i % 7}"
        else:
            out[i] = f"{a[i]}{i}"
    return out


def gen_doc(docid: int, seed: int, voc: np.ndarray, tag: str = "") -> tuple:
    """One corpus row. ``tag`` (if set) is appended as an extra token."""
    rng = np.random.default_rng([seed, docid])
    repo = f"repo-{docid % 64:03d}"
    ext = EXTS[int(rng.integers(len(EXTS)))]
    path = (
        f"src/{DIRS[int(rng.integers(len(DIRS)))]}/"
        f"{KINDS[int(rng.integers(len(KINDS)))]}_{docid}.{ext}"
    )
    commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()
    n_tok = int(rng.integers(20, 400) if rng.random() < 0.9 else rng.integers(400, 2000))
    r = rng.random(n_tok)
    words = np.empty(n_tok, dtype=object)
    m = r < 0.25
    words[m] = np.array(HEAD, dtype=object)[rng.integers(0, len(HEAD), int(m.sum()))]
    m = (r >= 0.25) & (r < 0.35)
    words[m] = np.array(KEYWORDS, dtype=object)[rng.integers(0, len(KEYWORDS), int(m.sum()))]
    m = (r >= 0.35) & (r < 0.42)
    words[m] = rng.integers(0, 100, int(m.sum())).astype(str)
    m = (r >= 0.42) & (r < 0.47)
    words[m] = np.array(STOPS, dtype=object)[rng.integers(0, len(STOPS), int(m.sum()))]
    m = r >= 0.47
    idx = np.minimum(rng.pareto(1.2, int(m.sum())).astype(np.int64), len(voc) - 1)
    words[m] = voc[idx]
    content = " ".join(words)
    if tag:
        content = f"{content} {tag}"
    return repo, path, commit, LANGS[ext], content


def gen_rows(seed: int, start: int, n: int, tag: str = "") -> list[tuple]:
    voc = vocab(seed)
    return [gen_doc(d, seed, voc, tag) for d in range(start, start + n)]


def in_docid_order(rows: list[tuple]) -> list[tuple]:
    """The engine's pinned total order: docid = rank by (repo, path, commit)."""
    return sorted(rows, key=lambda r: (r[0], r[1], r[2]))


def write_parquet(rows: list[tuple], path: str) -> None:
    """Write rows as a parquet file (atomic rename, so a killed run never
    leaves a partial cache entry)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(COLUMNS)})
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


# ------------------------------------------------------------ query streams
# Queries are plain tuples, ("kind", args...); the workloads turn them into
# the program's query objects. Terms come from the oracle's term dictionary
# of the generated corpus, so every drawn term exists in the index.

# the generator's head terms other than the stopword "if": each is drawn with
# the same probability, so which ones a seed picks does not change the cost
HEAVY_TERMS = ("return", "value", "data0", "self", "x")


def tail_terms(df: dict[str, int], max_doc: int) -> list[str]:
    """Vocabulary tail: terms in 2 docs up to 1% of docs, non-numeric."""
    hi = max(3, max_doc // 100)
    return sorted(t for t, n in df.items() if 2 <= n <= hi and not t.isdigit())


def tail_bigrams(texts_tokens, tail: set[str], rng, n: int) -> list[tuple[str, str]]:
    """Adjacent (position p, p+1) pairs of tail terms, so phrase and AND
    queries over them match at least one document."""
    pairs: set[tuple[str, str]] = set()
    order = rng.permutation(len(texts_tokens))
    for d in order:
        toks = texts_tokens[int(d)]
        for (t1, p1), (t2, p2) in zip(toks, toks[1:]):
            if p2 == p1 + 1 and t1 in tail and t2 in tail and t1 != t2:
                pairs.add((t1, t2))
        if len(pairs) >= n:
            break
    return sorted(pairs)[:n]


POINT_KINDS = 6  # query kinds each stream cycles through
HEAVY_KINDS = 10


def point_stream(seed: int, df: dict[str, int], max_doc: int, texts_tokens, n: int) -> list[tuple]:
    """Single terms, 2-term OR and AND, a prefix and an edit-distance-1
    fuzzy of a tail term, and exact 2-term tail phrases."""
    rng = np.random.default_rng([seed, 0x706F696E74])
    tail = tail_terms(df, max_doc)
    pairs = tail_bigrams(texts_tokens, set(tail), rng, 64)
    pick = lambda: tail[int(rng.integers(len(tail)))]  # noqa: E731
    out = []
    for i in range(n):
        kind = i % POINT_KINDS
        if kind == 0:
            out.append(("term", pick()))
        elif kind == 1:
            out.append(("or", pick(), pick()))
        elif kind == 2:
            out.append(("and",) + pairs[int(rng.integers(len(pairs)))])
        elif kind == 3:
            t = pick()
            out.append(("prefix", t[: max(4, len(t) - 1)]))
        elif kind == 4:
            out.append(("fuzzy", pick()))
        else:
            out.append(("phrase",) + pairs[int(rng.integers(len(pairs)))])
    return out


def heavy_stream(seed: int, n: int) -> list[tuple]:
    """Head-term shapes with the head terms drawn per seed: term, boolean
    AND/OR/NOT/min-should-match, dismax, exact, sloppy and multi-phrase,
    and an unranked span-near."""
    rng = np.random.default_rng([seed, 0x6865617679])
    out = []
    for i in range(n):
        a, b, c = (HEAVY_TERMS[int(j)] for j in rng.choice(len(HEAVY_TERMS), 3, replace=False))
        kind = i % HEAVY_KINDS
        out.append(
            [
                ("term", a),
                ("and", a, b),
                ("or", a, b),
                ("not", a, b),
                ("msm", a, b, c),
                ("dismax", a, b),
                ("phrase", a, b),
                ("sloppy", a, b),
                ("multiphrase", a, b, c),
                ("span", a, b),
            ][kind]
        )
    return out
