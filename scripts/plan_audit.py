"""Plan-shape audit across scales: assert the physical plan of the
headline query paths has the SAME number of Exchange and Python-eval
nodes over a small warehouse and a big one (the r4 verdict's sf1-soak
done-criterion: "no new Exchange/Python stage in the audited plans").

Catalyst chooses plans from statistics, so a shape that silently
degrades at 10x (e.g. a broadcast join flipping to SortMergeJoin with
an extra Exchange, or AQE inserting a re-partition) shows up here as a
node-count diff even when results stay correct.

Usage: python scripts/plan_audit.py <warehouse_small> <warehouse_big>
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

from lucenenet_spark.index.builder import InvertedIndex
from lucenenet_spark.search import spans as sp
from lucenenet_spark.search.queries import (
    BooleanQuery,
    FuzzyQuery,
    MultiPhraseQuery,
    Occur,
    PhraseQuery,
    TermQuery,
)
from lucenenet_spark.search.searcher import IndexSearcher
from lucenenet_spark.session import get_spark

EXCHANGE = re.compile(r"\bExchange\b")
PYTHON = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)\b")


def shapes(searcher: IndexSearcher) -> dict[str, tuple[int, int]]:
    near = sp.SpanNearQuery(
        (sp.SpanTermQuery("return"), sp.SpanTermQuery("value")),
        slop=2,
        in_order=True,
    )
    qs = {
        "term_query": searcher.search_df(TermQuery(term="return"), 10),
        "bool_and": searcher.search_df(
            BooleanQuery.of(
                (TermQuery(term="return"), Occur.MUST),
                (TermQuery(term="value"), Occur.MUST),
            ),
            10,
        ),
        "phrase": searcher.search_df(
            PhraseQuery(phrase_terms=("return", "value")), 10
        ),
        "sloppy_phrase": searcher.search_df(
            PhraseQuery(phrase_terms=("return", "value"), slop=2), 10
        ),
        "multi_phrase": searcher.search_df(
            MultiPhraseQuery(slots=(("return",), ("value", "self"))), 10
        ),
        "fuzzy_osa": searcher.search_df(FuzzyQuery(term="return"), 10),
        "span_near": sp.span_query(searcher, near),
        "span_near_scored": sp.span_query_scored(searcher, near, 10),
    }
    out = {}
    for name, df in qs.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = (len(EXCHANGE.findall(plan)), len(PYTHON.findall(plan)))
    return out


def main() -> int:
    small_dir, big_dir = sys.argv[1], sys.argv[2]
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    small = shapes(IndexSearcher(InvertedIndex.load(spark, small_dir)))
    big = shapes(IndexSearcher(InvertedIndex.load(spark, big_dir)))
    rc = 0
    for name in small:
        s, b = small[name], big[name]
        tag = "SAME" if s == b else "DIFF"
        if s != b:
            rc = 1
        print(
            f"{tag} {name}: small(exchanges={s[0]}, python={s[1]}) "
            f"big(exchanges={b[0]}, python={b[1]})"
        )
    print("PLAN SHAPES IDENTICAL ACROSS SCALES" if rc == 0 else "PLAN SHAPE DRIFT")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
