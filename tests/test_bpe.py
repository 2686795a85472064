"""Distributed BPE merge training (operators/text.py:bpe_train):
hand-checked reference corpus, greedy-run semantics, degenerate
inputs, and the full DuckDB differential for its registry debut
(unit-first pattern)."""

from __future__ import annotations

from data_engineering_for_e_commerce_logistics_spark.operators.text import bpe_train


def _merges(spark, texts, n):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    return [tuple(r) for r in bpe_train(docs, n_merges=n).collect()]


def test_bpe_matches_hand_reference(spark):
    """The classic Sennrich corpus shape: ('a','a') wins round 1 by
    count (7 = overlapping adjacent pairs of the aaa/aaaa runs), then
    the l-o-w / n-e-w families merge bottom-up; ties break (count
    desc, left asc, right asc)."""
    got = _merges(
        spark,
        ["low lower lowest low low aaa aaa", "new newer newest new aaaa"],
        5,
    )
    assert got == [
        (1, "a", "a", "aa", 7),
        (2, "l", "o", "lo", 5),
        (3, "lo", "w", "low", 5),
        (4, "e", "w", "ew", 4),
        (5, "n", "ew", "new", 4),
    ]


def test_bpe_greedy_run_application(spark):
    """Left-to-right non-overlap on a same-symbol run: after merging
    ('a','a'), the word aaaaab tokenizes [aa, aa, a, b] — so round
    2's tie (every pair counts 2, left-asc decides) is won by
    ('a','b').  A delimiter-string replace() application would have
    split the run [aa, a, aa, b] instead (the replacement's trailing
    space shadows the next occurrence), making round 2's winner
    ('a','aa') — this corpus discriminates the two, pinning the
    islands/odd-offset construction to true sequential greedy."""
    got = _merges(spark, ["aaaaab aaaaab"], 2)
    assert got[0][1:4] == ("a", "a", "aa")
    assert got[1][1:4] == ("a", "b", "ab"), got
    # and deterministically the SAME on a re-run
    assert got == _merges(spark, ["aaaaab aaaaab"], 2)


def test_bpe_checkpoint_cadence_invariant(spark):
    """ADVICE r10: large merge counts get a periodic lazy
    localCheckpoint to bound the O(k²) fold recompute.  Crossing the
    cadence boundary (checkpoint_every=2 over 5 merges → checkpoints
    after rounds 2 and 4) must be invisible: identical merge tables
    with and without checkpointing, and the returned vocab still
    consumable downstream."""
    docs = spark.createDataFrame(
        [(1, "low lower lowest low low aaa aaa"),
         (2, "new newer newest new aaaa")],
        "doc_id int, text string",
    )
    plain = [tuple(r) for r in bpe_train(docs, n_merges=5).collect()]
    ckpt_m, ckpt_v = bpe_train(
        docs, n_merges=5, return_vocab=True, checkpoint_every=2
    )
    assert [tuple(r) for r in ckpt_m.collect()] == plain
    # vocab built across the checkpoint boundary is fully merged
    segs = {r.w: list(r.s) for r in ckpt_v.collect()}
    assert segs["low"] == ["low", "</w>"]


def test_bpe_degenerate_inputs(spark):
    """Null text contributes nothing; single-char words still merge
    with the end-of-word marker; fewer possible merges than requested
    stops early instead of erroring."""
    docs = spark.createDataFrame(
        [(0, None), (1, "x x x")], "doc_id int, text string"
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=5).collect()]
    # vocabulary is one word 'x' -> symbols [x, </w>]: exactly one
    # possible merge, then the pair table is empty
    assert got == [(1, "x", "</w>", "x</w>", 3)]


def test_bpe_matches_duckdb_oracle(spark):
    """Full cross-engine differential at sf0.01: six unrolled rounds,
    argmax + tie rule + greedy application all replayed in SQL
    (registry candidate bpe_merges_documents)."""
    import sys

    sys.path.insert(0, "/root/repo")
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        corpus_queries as xc,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(xc.BPE_MERGES_SQL).fetchdf()
    finally:
        conn.close()
    spdf = xc.bpe_merges_documents(spark, sf).toPandas()
    assert len(spdf) == xc.BPE_N_MERGES
    assert compare_frames(spdf, opdf, "bpe_merges_documents") == []


def test_bpe_encode_documents_matches_duckdb_oracle(spark):
    """r08 registry candidate's unit-first differential: the full
    train+encode spec (space-joined token sequences, wordless docs as
    ('', 0)) is cell-exact vs the DuckDB oracle that replays all
    training rounds plus the vocab lookup join with char fallback, at
    the driver's own sf0.01 scale."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        corpus_queries as xc,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(xc.BPE_ENCODE_SQL).fetchdf()
    finally:
        conn.close()
    spdf = xc.bpe_encode_documents(spark, sf).toPandas()
    assert len(spdf) == 500  # one row per input document, none dropped
    assert compare_frames(spdf, opdf, "bpe_encode_documents") == []


def test_bpe_encode_roundtrip_and_merges_applied(spark):
    """Encoding the training corpus with the trained vocab: every
    document's tokens concatenate back to its normalized words (with
    end-of-word markers), trained merges actually appear as multi-char
    tokens, and an OOV word falls back to characters."""
    from data_engineering_for_e_commerce_logistics_spark.operators.text import (
        bpe_encode,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low aaa aaa"), (2, "new newer newest new aaaa")],
        "doc_id int, text string",
    )
    merges, vocab = bpe_train(docs, n_merges=5, return_vocab=True)
    enc = {r.doc_id: r for r in bpe_encode(docs, vocab).collect()}
    # lossless: concatenated tokens == words + markers, in order
    joined = "".join(enc[1].tokens)
    assert joined == "low</w>lower</w>lowest</w>low</w>low</w>aaa</w>aaa</w>"
    # merges applied: 'low' became one token (merges lo, low)
    assert enc[1].tokens[:2] == ["low", "</w>"]
    assert enc[1].n_tokens == len(enc[1].tokens)
    # OOV fallback: unseen word -> characters + marker
    oov = spark.createDataFrame([(9, "zzq")], "doc_id int, text string")
    got = bpe_encode(oov, vocab).collect()[0]
    assert got.tokens == ["z", "z", "q", "</w>"]


def test_bpe_encode_keeps_wordless_documents(spark):
    """NULL / empty / whitespace-only documents come back as
    (id, [], 0) — one output row per input row, never dropped
    (ADVICE r06); the shuffle-join path agrees with broadcast."""
    from data_engineering_for_e_commerce_logistics_spark.operators.text import (
        bpe_encode,
    )

    train = spark.createDataFrame([(1, "ab ab ab")], "doc_id int, text string")
    _, vocab = bpe_train(train, n_merges=2, return_vocab=True)
    docs = spark.createDataFrame(
        [(1, "ab"), (2, None), (3, ""), (4, "   \t ")],
        "doc_id int, text string",
    )
    for bcast in (True, False):
        out = {
            r.doc_id: r
            for r in bpe_encode(docs, vocab, broadcast_vocab=bcast).collect()
        }
        assert set(out) == {1, 2, 3, 4}
        assert out[1].tokens == ["ab</w>"]
        for d in (2, 3, 4):
            assert out[d].tokens == [] and out[d].n_tokens == 0
