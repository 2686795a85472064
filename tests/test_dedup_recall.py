"""Near-dup detector quality: LSH and SimHash candidate generation
measured against the exact all-pairs Jaccard ground truth."""

from __future__ import annotations

import hashlib

import pytest

from data_engineering_for_e_commerce_logistics_spark.catalog import read_parquet_table
from data_engineering_for_e_commerce_logistics_spark.operators import dedup

SF = "/root/testdata/sf0.01"  # 500 docs, 25 planted near-dup pairs


@pytest.fixture(scope="module")
def docs(spark):
    return read_parquet_table(spark, f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def ground_truth(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.6)
    return {(r.id_a, r.id_b) for r in pairs.collect()}


def test_minhash_lsh_full_recall(spark, docs, ground_truth):
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.6).collect()
    }
    # verified LSH output ⊆ ground truth by construction (same verify
    # threshold), and 8 bands × 2 rows gives ~full recall at j≥0.6
    assert got <= ground_truth
    recall = len(got) / len(ground_truth)
    assert recall >= 0.95, f"LSH recall {recall:.2f} below 0.95"


def test_simhash_pairs_find_planted_dups(spark, docs, ground_truth):
    sig = dedup.simhash(docs, shingle_k=2)
    got = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_pairs(sig, max_hamming=6).collect()
    }
    hits = len(got & ground_truth)
    recall = hits / len(ground_truth)
    # simhash at 64 bits is a coarser detector than minhash — expect
    # most planted pairs, tolerate some misses, and candidates must
    # stay far from all-pairs (precision of the bucketing)
    assert recall >= 0.6, f"simhash recall {recall:.2f}"
    n_docs = docs.count()
    assert len(got) < n_docs * 5  # not a quadratic candidate blowup


def test_simhash_rejects_bits_over_64(spark, docs):
    """ADVICE r03: the two-half nibble recovery covers md5 bits 0-63
    only; bits > 64 would silently re-read the lo half, so the
    contract is an explicit assert."""
    import pytest

    with pytest.raises(AssertionError, match="at most 64 bits"):
        dedup.simhash(docs, bits=65)


def test_simhash_swar_lane_overflow_raises(spark):
    """ADVICE r05: the SWAR vote packing caps per-document shingles at
    2^15 - 1 (16-bit lane capacity).  An oversized un-chunked document
    must raise at execution time, not emit a corrupt signature; a
    same-shape document under the cap must still hash fine."""
    import pytest

    big = " ".join(f"t{i}" for i in range(33000))  # ~33k 2-shingles
    df = spark.createDataFrame([(1, big)], "doc_id long, text string")
    # surfaces as SparkRuntimeException/Py4JJavaError depending on the
    # client; match on the message, not the wrapper type
    with pytest.raises(Exception, match="SWAR 16-bit lane capacity"):
        dedup.simhash(df, shingle_k=2).collect()

    ok = " ".join(f"t{i}" for i in range(1000))
    out = dedup.simhash(
        spark.createDataFrame([(1, ok)], "doc_id long, text string"),
        shingle_k=2,
    ).collect()
    assert len(out) == 1 and out[0].simhash is not None


def _reference_simhash(text: str, k: int = 2):
    """Pure-Python SimHash with the engine's rule: distinct word
    k-shingles, md5 of each, bit j votes on bit j%4 of hex digit j//4,
    and the bit is set only on a strict majority (a tie gives 0)."""
    toks = text.split(" ")
    shingles = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    if not shingles:
        return None, []
    words = [int(hashlib.md5(s.encode()).hexdigest()[:16], 16) for s in shingles]
    sig, ties = 0, []
    for j in range(64):
        at = 4 * (15 - j // 4) + j % 4
        ones = sum((w >> at) & 1 for w in words)
        if 2 * ones > len(words):
            sig |= 1 << j
        elif 2 * ones == len(words):
            ties.append(j)
    return (sig - (1 << 64) if sig >> 63 else sig), ties


def test_simhash_bit_exact_against_python_reference(spark):
    texts = {
        1: "red owl",  # one shingle whose md5 sets bit 63
        2: "red owl fox",  # two shingles: every differing bit is a tie
        3: "a b a b a b c",  # repeated shingles count once
        4: "the quick brown fox jumps over the lazy dog near the river bank",
        5: "solo",  # fewer tokens than k: no shingle, no signature
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in dedup.simhash(df, shingle_k=2).collect()}
    want = {i: _reference_simhash(t) for i, t in texts.items()}
    assert got == {i: sig for i, (sig, _) in want.items() if sig is not None}
    assert want[1][0] < 0  # bit 63 is the sign bit
    assert want[2][1]  # the tied votes exist, and gave bit 0


def test_exact_duplicates_no_false_positives(spark, docs):
    out = dedup.exact_duplicates(docs)
    # corpus has no exact dups: every fingerprint group has one member
    assert out.count() == docs.count()
    assert out.filter("n_copies > 1").count() == 0


# --- Incremental exact dedup (batch vs persisted digest index) --------------


def test_incremental_exact_dedup_flow(spark, tmp_path):
    """Three-batch ingest: corpus index accrues only new digests, and
    re-ingesting known content yields zero fresh docs."""
    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        exact_duplicates,
        incremental_exact_dedup,
    )

    b1 = spark.createDataFrame(
        [(1, "the quick fox"), (2, "lazy  DOG"), (3, "The Quick fox")],
        "doc_id int, text string",
    )
    # bootstrap: no index yet; 3 normalizes to the same digest as 1
    fresh1, delta1 = incremental_exact_dedup(b1, None)
    assert sorted(r.doc_id for r in fresh1.collect()) == [1, 2]
    idx_path = str(tmp_path / "index")
    delta1.write.mode("overwrite").parquet(idx_path)

    # batch 2: one known doc (different id, same content), one new
    b2 = spark.createDataFrame(
        [(10, "lazy dog"), (11, "brand new content")],
        "doc_id int, text string",
    )
    index = spark.read.parquet(idx_path)
    fresh2, delta2 = incremental_exact_dedup(b2, index)
    assert [r.doc_id for r in fresh2.collect()] == [11]
    delta2.write.mode("append").parquet(idx_path)

    # batch 3: everything already known -> nothing fresh
    b3 = spark.createDataFrame(
        [(20, "THE QUICK FOX"), (21, "brand  new content")],
        "doc_id int, text string",
    )
    fresh3, _ = incremental_exact_dedup(b3, spark.read.parquet(idx_path))
    assert fresh3.count() == 0
    # index holds exactly the 3 distinct contents ever seen
    assert spark.read.parquet(idx_path).count() == 3
    # and equals what a from-scratch exact dedup of the union would keep
    union = b1.unionByName(b2).unionByName(b3)
    assert exact_duplicates(union).count() == 3


def test_incremental_dedup_plain_anti_matches_bloom(spark):
    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    batch = spark.createDataFrame(
        [(i, f"doc number {i % 7}") for i in range(40)],
        "doc_id int, text string",
    )
    seed = spark.createDataFrame(
        [("x", 0, 1)], "fingerprint string, kept_id int, n_copies long"
    )
    f_bloom, _ = incremental_exact_dedup(batch, seed, bloom_bits=1 << 12)
    f_plain, _ = incremental_exact_dedup(batch, seed, bloom_bits=None)
    assert sorted(r.doc_id for r in f_bloom.collect()) == sorted(
        r.doc_id for r in f_plain.collect()
    )


def test_incremental_minhash_dedup_flow(spark):
    """Signature-index screening: a near-dup of an indexed doc is
    suppressed, genuinely new content passes, and the signature delta
    covers exactly the fresh docs."""
    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    base_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame(
        [(1, base_text), (2, "one two three four five six seven eight nine ten")],
        "doc_id int, text string",
    )
    _, sig1 = incremental_minhash_dedup(b1, None)
    assert sig1.count() == 2

    b2 = spark.createDataFrame(
        [
            # near-dup of doc 1: one token changed out of ten
            (10, base_text.replace("kappa", "lambda")),
            # unrelated new doc
            (11, "red orange yellow green blue indigo violet pink brown black"),
        ],
        "doc_id int, text string",
    )
    fresh, delta = incremental_minhash_dedup(b2, sig1, threshold=0.5)
    assert [r.doc_id for r in fresh.collect()] == [11]
    assert [r.doc_id for r in delta.collect()] == [11]


def test_incremental_simhash_dedup_flow(spark):
    """Fingerprint-index screening: a one-token edit of a 120-token
    indexed doc (measured hamming 3) is suppressed at max_hamming=3;
    unrelated content (hamming ~29) passes."""
    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        incremental_simhash_dedup,
    )

    toks = [f"w{i}" for i in range(120)]
    b1 = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id int, text string"
    )
    _, sig1 = incremental_simhash_dedup(b1, None)
    assert sig1.count() == 1

    b2 = spark.createDataFrame(
        [
            (10, " ".join(toks[:-1] + ["zzz"])),          # near-dup
            (11, " ".join(f"q{i}" for i in range(120))),  # distant
        ],
        "doc_id int, text string",
    )
    fresh, delta = incremental_simhash_dedup(b2, sig1, max_hamming=3)
    ids = sorted(r.doc_id for r in fresh.collect())
    assert ids == [11], ids
    assert sorted(r.doc_id for r in delta.collect()) == [11]


def test_incremental_simhash_prebanded_index_path(spark):
    """VERDICT r10 task 4: a persisted ``simhash_bands_of`` index fed
    as ``banded_index`` (raw sig_index absent — the banded rows carry
    the fingerprint) screens identically to the inline-banded form:
    same fresh ids, same delta, near-dup suppressed / distant kept."""
    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        incremental_simhash_dedup,
        simhash_bands_of,
    )

    toks = [f"w{i}" for i in range(120)]
    b1 = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id int, text string"
    )
    _, sig1 = incremental_simhash_dedup(b1, None)
    b2 = spark.createDataFrame(
        [
            (10, " ".join(toks[:-1] + ["zzz"])),          # near-dup
            (11, " ".join(f"q{i}" for i in range(120))),  # distant
        ],
        "doc_id int, text string",
    )
    inline_fresh, inline_delta = incremental_simhash_dedup(
        b2, sig1, max_hamming=3
    )
    banded = simhash_bands_of(sig1)
    # the persisted-banding production layout: four rows per indexed
    # doc, each carrying the full fingerprint next to its band bucket
    assert banded.count() == 4
    fresh, delta = incremental_simhash_dedup(
        b2, None, max_hamming=3, banded_index=banded
    )
    assert sorted(r.doc_id for r in fresh.collect()) == [11]
    assert [tuple(r) for r in delta.orderBy("doc_id").collect()] == [
        tuple(r) for r in inline_delta.orderBy("doc_id").collect()
    ]
    assert sorted(r.doc_id for r in inline_fresh.collect()) == [11]


def test_incremental_simhash_banding_contract(spark):
    """ADVICE r04: the pigeonhole screen silently misses near-dups when
    max_hamming >= n_bands or 64 % n_bands != 0 — both now raise."""
    import pytest

    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        incremental_simhash_dedup,
    )

    b = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    idx = spark.createDataFrame([(2, 0)], "doc_id int, simhash long")
    with pytest.raises(ValueError, match="n_bands"):
        incremental_simhash_dedup(b, idx, max_hamming=4, n_bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        incremental_simhash_dedup(b, idx, max_hamming=2, n_bands=7)


def test_incremental_exact_dedup_counts_batch_copies(spark):
    """ADVICE r04: n_copies in the index delta is the WITHIN-BATCH copy
    count (3 copies of one text -> n_copies=3), not a hard-coded 1."""
    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    b = spark.createDataFrame(
        [(1, "same text"), (2, "same  TEXT "), (3, "same text"), (4, "other")],
        "doc_id int, text string",
    )
    _, delta = incremental_exact_dedup(b, None)
    got = {r.kept_id: r.n_copies for r in delta.collect()}
    assert got == {1: 3, 4: 1}


def test_incremental_exact_dedup_bloom_prunes_index_side(spark):
    """ADVICE r04 (medium): the bloom is built from the BATCH and
    pre-prunes the INDEX leg of the anti join — steady-state shuffle
    stays batch-sized.  Plan check: the bloom membership Filter sits on
    the side feeding the index scan, and results equal the plain anti."""
    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    batch = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(5)], "doc_id int, text string"
    )
    # "huge" index: 500 digests, none matching the batch
    idx = spark.createDataFrame(
        [(f"{i:032x}", i, 1) for i in range(500)],
        "fingerprint string, kept_id int, n_copies long",
    )
    fresh, _ = incremental_exact_dedup(batch, idx, bloom_bits=1 << 12)
    plan = fresh._jdf.queryExecution().optimizedPlan().toString()
    # the index relation must sit BELOW a bloom-words filter (pruned
    # before the anti join), i.e. the plan contains the membership test
    assert "__bloom_words" in plan
    assert fresh.count() == 5


def test_incremental_minhash_banded_index_equivalence(spark):
    """Passing a persisted banded index (bands_of of the signature
    index) must give identical screening to re-banding in place —
    the corpus-scale fast path is semantics-free."""
    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        bands_of,
        incremental_minhash_dedup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten")],
        "doc_id int, text string",
    )
    _, sig1 = incremental_minhash_dedup(b1, None)
    sig1 = sig1.cache()
    b2 = spark.createDataFrame(
        [(10, base.replace("kappa", "lambda")), (11, "wholly different words")],
        "doc_id int, text string",
    )
    f_plain, _ = incremental_minhash_dedup(b2, sig1, threshold=0.5)
    f_banded, _ = incremental_minhash_dedup(
        b2, sig1, threshold=0.5, banded_index=bands_of(sig1)
    )
    assert sorted(r.doc_id for r in f_plain.collect()) == sorted(
        r.doc_id for r in f_banded.collect()
    )


def test_incremental_exact_null_text_contract(spark):
    """Pins the documented NULL-text behavior: nulls collapse within a
    batch, never match across batches (anti-join key equality), and
    the keep is deterministic — so the contract is a choice, not an
    accident."""
    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    b1 = spark.createDataFrame(
        [(1, None), (2, None), (3, "real content")], "doc_id int, text string"
    )
    fresh1, delta1 = incremental_exact_dedup(b1, None)
    assert sorted(r.doc_id for r in fresh1.collect()) == [1, 3]
    b2 = spark.createDataFrame([(10, None)], "doc_id int, text string")
    fresh2, _ = incremental_exact_dedup(b2, delta1)
    # the null digest in the index does NOT screen batch 2's null row
    assert [r.doc_id for r in fresh2.collect()] == [10]
