"""BM25 lexical retrieval (operators/corpus.py:bm25_topk):
hand-replayed arithmetic on a tiny corpus, the shared tf-table seam
and degenerate inputs (the unit-first pattern from tests/test_bpe.py;
r09 ADVICE item 1)."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.operators.corpus import (
    bm25_topk,
    tfidf_topk,
)

SF = "/root/testdata/sf0.01"


def _round_half_up(x: float, scale: int, cast_scale: int = 8) -> float:
    """Replay exact_round's double→decimal(28,cast_scale)→round(scale)
    path: Spark casts through the double's shortest repr then rounds
    HALF_UP, which Decimal(repr(x)) + quantize reproduces exactly."""
    d = Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-cast_scale), rounding=ROUND_HALF_UP
    )
    return float(d.quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


def test_bm25_hand_reference(spark):
    """Third-implementation differential: a 4-doc corpus scored in
    plain Python with the same operation order (idf rounded 6 dp, pure
    double contrib, 4 dp decimal sum) must match bm25_topk cell-exact.

    Corpus: doc 0 is the query {apple, banana}; doc 1 shares apple
    (tf=2), doc 2 shares banana (tf=1), doc 3 shares nothing and must
    be absent; doc 0 must not retrieve itself."""
    docs = spark.createDataFrame(
        [
            (0, "apple banana"),
            (1, "apple apple cherry"),
            (2, "banana cherry cherry date"),
            (3, "date egg"),
        ],
        "doc_id long, text string",
    )
    k1, b = 1.2, 0.75
    got = {
        r.doc_id: r
        for r in bm25_topk(docs, [0], k=5, k1=k1, b=b).collect()
    }
    assert set(got) == {1, 2}  # doc 3 unmatched, self-match excluded

    n_docs, total_dl = 4, 11  # dls: 2, 3, 4, 2
    avgdl = total_dl / n_docs

    def expected(tf, dl, df):
        idf = _round_half_up(
            math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6
        )
        contrib = idf * (tf * (k1 + 1.0)) / (
            tf + k1 * ((1.0 - b) + b * dl / avgdl)
        )
        return _round_half_up(contrib, 4)

    # apple: df=2 (docs 0,1); banana: df=2 (docs 0,2)
    assert got[1].bm25 == expected(tf=2, dl=3, df=2)
    assert got[2].bm25 == expected(tf=1, dl=4, df=2)
    assert (got[1].n_terms, got[2].n_terms) == (1, 1)
    # rank follows the rounded score desc, doc-id-asc tiebreak
    ranked = sorted(got.values(), key=lambda r: r.rank)
    assert [r.rank for r in ranked] == [1, 2]
    assert ranked[0].bm25 >= ranked[1].bm25


def test_bm25_multi_term_sum_and_topk_cut(spark):
    """A doc matching several query terms sums per-term contributions
    (n_terms counts the matched terms), and k cuts strictly by the
    rank window."""
    docs = spark.createDataFrame(
        [
            (0, "x y z"),
            (1, "x y q"),
            (2, "x q q"),
            (3, "y q q"),
            (4, "z z z"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bm25_topk(docs, [0], k=10).collect()}
    assert rows[1].n_terms == 2  # x and y
    assert {rows[2].n_terms, rows[3].n_terms, rows[4].n_terms} == {1}
    # doc 1's two tf=1 contributions beat any single tf=1 contribution
    # (docs 2 and 3; doc 4's tf=3 saturation may legitimately win)
    assert rows[1].bm25 > rows[2].bm25 and rows[1].bm25 > rows[3].bm25
    top2 = bm25_topk(docs, [0], k=2)
    assert top2.count() == 2
    assert top2.agg(F.max("rank")).first()[0] == 2


def test_bm25_shared_tf_table_is_equivalent(spark):
    """Passing a pre-built (doc_id, term, tf) frame (the seam the
    hybrid-retrieval specs share) yields the identical result to the
    internal pass."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(["a b", "a a c", "b c d", "d e"])],
        "doc_id long, text string",
    )
    from data_engineering_for_e_commerce_logistics_spark.operators.text import (
        tokens_col,
    )

    tf = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    a = sorted(map(tuple, bm25_topk(docs, [0], k=5).collect()))
    b = sorted(map(tuple, bm25_topk(docs, [0], k=5, tf_table=tf).collect()))
    assert a == b


def test_bm25_no_overlap_queries_yield_no_rows(spark):
    """A query doc sharing no terms with any other doc retrieves
    nothing (posting-list-bounded candidates, no full-corpus scores)."""
    docs = spark.createDataFrame(
        [(0, "unique solitary"), (1, "aaa bbb"), (2, "bbb ccc")],
        "doc_id long, text string",
    )
    assert bm25_topk(docs, [0], k=5).count() == 0
    # and tfidf on the same frame still covers every doc
    assert tfidf_topk(docs, k=2).select("doc_id").distinct().count() == 3
