"""Corpus deduplication operators — exact and near-dup, designed for
100 TB document tables.

Four families (BASELINE.json north star):

* exact:     hash-groupBy on a normalized fingerprint — one shuffle on
             the 16-byte digest, perfectly balanced.
* MinHash+LSH: shingle → K minhashes → B bands → bucket join → verify.
             The hash family is "lexicographic min of md5(seed:shingle)"
             — md5 hex strings compare identically everywhere, which
             makes the signature (and thus the oracle diff) engine-
             independent, unlike xxhash/murmur whose implementations
             differ across engines.  Candidate generation touches only
             docs sharing a band bucket: the cross-join never happens.
* SimHash:   64-bit weighted bit-vote fingerprint; hamming-adjacent
             buckets give near-dup candidates.
* n-gram Jaccard: the exact verifier (array_intersect/union on distinct
             shingle sets) — used standalone (small inputs) or as the
             LSH verify stage.

Scale shape: every stage is explode → hash-shuffle on short keys →
aggregate.  No driver-side loops, no UDFs; AQE splits skewed buckets
(a hot band bucket = a cluster of near-identical docs).

Each family also has an INCREMENTAL screen (r04) for the
continuously-fed corpus: ``incremental_exact_dedup`` /
``incremental_minhash_dedup`` / ``incremental_simhash_dedup`` dedup a
new batch against a persisted digest/signature/fingerprint index —
the corpus text is never re-read, and each returns the fresh rows
plus the index delta to append.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import spread_scan

# SWAR vote counting packs four per-bit ones-counts into 16-bit lanes
# of one signed long; the top lane sits at bit 48, so per-document
# shingle counts past 2^15 - 1 would carry across lanes (sign-bit
# interaction at 2^15).  ``simhash`` enforces this at runtime.
_SWAR_MAX_SHINGLES = (1 << 15) - 1

# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def shingles_from_tokens(tokens: Column | str, k: int = 3) -> Column:
    """Distinct word-k-gram shingles from a pre-split token array.

    Built as k-1 zip_with passes over k shifted slices of the token
    array — each slice is evaluated ONCE per row, so total work is
    O(tokens·k) even when Catalyst's CollapseProject inlines the
    token expression into every slice.  (The earlier form indexed the
    array per lambda element — element_at(toks, i+j) — which re-ran
    the INLINED token expression per shingle position: measured 5.3s →
    1.5s on the sf0.1 decontamination pass.)

    Guarded so texts with fewer than k tokens yield an empty array
    (slice with a non-positive length would throw)."""
    toks = F.col(tokens) if isinstance(tokens, str) else tokens
    n = F.size(toks)
    m = n - (k - 1)  # number of shingle positions when n >= k
    joined = F.slice(toks, 1, m)
    for j in range(1, k):
        joined = F.zip_with(
            joined,
            F.slice(toks, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(F.when(n >= k, joined).otherwise(F.array()))


def shingles_col(text: Column | str = "text", k: int = 3) -> Column:
    """Shingles straight from a text column — convenience wrapper; for
    hot paths prefer a pre-tokenized column + shingles_from_tokens."""
    c = F.col(text) if isinstance(text, str) else text
    return shingles_from_tokens(F.split(c, " "), k)


def sql_shingles(tok: str = "tok", k: int = 3) -> str:
    """DuckDB-equivalent shingle expression (list_transform over
    generate_series).  ``tok`` must name an in-scope token-list column
    (e.g. from a CTE ``SELECT string_split(text,' ') AS tok``)."""
    parts = " || ' ' || ".join(f"{tok}[i+{j}]" for j in range(k))
    return (
        f"list_distinct(list_transform(generate_series(1, greatest("
        f"len({tok}) - {k - 1}, 0)), i -> {parts}))"
    )


# ---------------------------------------------------------------------------
# All-pairs input guard
# ---------------------------------------------------------------------------

ALL_PAIRS_MAX_ROWS = 50_000


def bounded_input(df: DataFrame, max_rows: int, scale_twin: str) -> DataFrame:
    """Guard for O(n²) all-pairs baselines: these exist as small-corpus
    ground truth for the banded/bucketed scale paths, and must never be
    lifted into a large pipeline by accident.  Raises when the input
    exceeds ``max_rows``, naming the scale-safe twin operator."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"all-pairs baseline bounded to {max_rows} input rows, got {n}; "
            f"use the scale path instead: {scale_twin}"
        )
    return df


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via normalized-md5 fingerprint groupBy: one row per
    distinct content hash with the kept (min) id and the group size.
    One shuffle on the digest; group sizes are bounded by true dup
    multiplicity, so no skew beyond real duplicates."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    return (
        df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Kirsch-Mitzenmacher base: K hash functions g_i = (h1 + i*h2) mod P
# derived from ONE md5 per shingle.  P = 2^31-1 keeps i*h2m < 2^36 —
# no bigint overflow, so ANSI-mode Spark and DuckDB agree exactly.
MINHASH_PRIME = 2_147_483_647


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """K-column minhash signature per document.

    Plan: pre-tokenize (one split per row — splitting inside the
    shingle lambda re-evaluates per element, measured 1.5× slower),
    explode distinct shingles, ONE md5 per shingle row split into two
    60-bit ints, then a single hash-aggregate computing all K
    (h1 + i*h2) mod P mins — one shuffle on id_col, one md5 per
    shingle instead of K.  The shingle explode + md5 are the dense
    per-row work and run in the scan stage, so an under-split input
    is spread first (guide §2.5; no-op at scale) — all downstream
    aggregates are exact integer mins, partitioning-insensitive."""
    toks = spread_scan(
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    )
    ex = toks.select(
        F.col(id_col),
        F.explode(shingles_from_tokens("__toks", shingle_k)).alias("shingle"),
    )
    h = F.md5(F.col("shingle"))
    h1m = F.pmod(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint"), F.lit(MINHASH_PRIME)
    )
    h2m = F.pmod(
        F.conv(F.substring(h, 17, 15), 16, 10).cast("bigint"), F.lit(MINHASH_PRIME)
    )
    hashed = ex.select(
        F.col(id_col), h1m.alias("h1"), h2m.alias("h2")
    )
    aggs = [
        F.min(
            F.pmod(F.col("h1") + F.lit(i) * F.col("h2"), F.lit(MINHASH_PRIME))
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature and emit within-bucket pairs.

    rows-per-band r = num_hashes // bands; band key = the r row hashes
    concatenated.  Pairs are generated by grouping each bucket and
    expanding id-sorted combinations with array expressions — ONE pass
    over the signature (a self-join would execute the signature plan
    twice) and one shuffle on the bucket key.  Bucket sizes are true
    near-dup cluster sizes, so the per-group pair fan-out is bounded;
    a degenerate mega-bucket (constant text) is the skew case AQE
    would split at the verify join downstream."""
    banded = _bands_of(sig, id_col, num_hashes, bands)

    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        # Degenerate-bucket guard for boilerplate-heavy corpora: a band
        # bucket holding k docs expands to k(k-1)/2 pairs, so one
        # pathological bucket (near-constant text) can dominate the
        # stage.  Dropping oversized buckets bounds pair fan-out; true
        # near-dups inside them still surface through their other
        # bands or the exact-dedup path.
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    n = F.size("ids")
    pair_arrays = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 1, n - i),
                lambda b: F.struct(
                    F.element_at(F.col("ids"), i).alias("id_a"), b.alias("id_b")
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; keeps pairs at or
    above threshold.

    The pair set is LSH-filtered and therefore small relative to the
    corpus → broadcast it into both shingle joins, so the (wide)
    shingle arrays never shuffle.  The shingle-array construction is
    the dense per-row work and runs in the scan stage — spread an
    under-split input first (guide §2.5; no-op at scale)."""
    sh = spread_scan(
        docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    ).select(
        F.col(id_col), shingles_from_tokens("__toks", shingle_k).alias("sh")
    )
    out = (
        sh.withColumnRenamed(id_col, "id_a")
        .withColumnRenamed("sh", "sh_a")
        .join(F.broadcast(pairs), "id_a")
        .join(
            sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        )
        .withColumn(
            "jaccard",
            # try_divide: two empty shingle sets give 0/0 — NULL (and
            # filtered) in both engines, instead of an ANSI-mode throw.
            F.try_divide(
                F.col("inter").cast("double"),
                F.size("sh_a") + F.size("sh_b") - F.col("inter"),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Full pipeline: signature → LSH candidates → Jaccard verify."""
    sig = minhash_signature(df, text_col, id_col, num_hashes, shingle_k)
    cand = lsh_candidate_pairs(sig, id_col, num_hashes, bands)
    return jaccard_verify(cand, df, text_col, id_col, shingle_k, threshold)


# ---------------------------------------------------------------------------
# n-gram Jaccard (all-pairs; the small-corpus / verify primitive)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.6,
    max_rows: int = ALL_PAIRS_MAX_ROWS,
) -> DataFrame:
    """All-pairs shingle Jaccard ≥ threshold.  Quadratic — correct for
    small corpora and as the ground-truth oracle for LSH recall; at
    scale use minhash_lsh_dedup (same output contract).  Input bounded
    by ``max_rows`` (bounded_input) so the baseline cannot silently
    become a 100 TB cross join."""
    df = bounded_input(df, max_rows, "dedup.minhash_lsh_dedup")
    sh = df.select(F.col(id_col), shingles_col(text_col, shingle_k).alias("sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.try_divide(
                F.col("inter").cast("double"),
                F.size("sh_a") + F.size("sh_b") - F.col("inter"),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_near_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs from SimHash signatures by the
    pigeonhole trick: split the 64-bit signature into ``n_bands``
    16-bit bands — two signatures within hamming distance
    ``max_hamming`` (< n_bands) must agree exactly on ≥1 band.  Bucket
    join per band, then exact hamming filter via bit_count(xor).

    Same shuffle shape as MinHash LSH: short-key exchange, per-bucket
    pair expansion, no corpus cross join."""
    banded = _simhash_bands(sig, id_col, n_bands)
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(
            F.expr(
                f"array_sort(collect_list(struct(`{id_col}` AS id, simhash AS sh)))"
                " AS members"
            )
        )
        .filter("size(members) > 1")
    )
    # member i pairs with every later member j, in one expression
    pairs = """inline(flatten(transform(
        sequence(1, size(members) - 1),
        i -> transform(
            slice(members, i + 1, size(members) - i),
            m -> named_struct(
                'id_a', element_at(members, i).id,
                'id_b', m.id,
                'hamming', bit_count(element_at(members, i).sh ^ m.sh))))))"""
    return (
        buckets.select(F.expr(pairs))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    shingle_k: int = 2,
) -> DataFrame:
    """64-bit SimHash: per shingle take md5-derived bits, per bit
    position vote +1/-1, sign of the vote is the fingerprint bit.

    Expressed as explode → SWAR-packed vote sums → bit assembly in one
    SQL expression; one shuffle on id_col, and building it runs no
    job.  Bit-exact DuckDB oracle:
    ``plans/extended_queries.py`` DEDUP_SIMHASH_SQL replays the same
    two-half nibble recovery (driver-green since r03), so this is
    hash-checked, not rows-only.

    Per-document shingle cap (enforced at runtime, ADVICE r05): the
    SWAR-packed vote counting accumulates each bit's ones-count in a
    16-bit lane, so a document may carry at most ``2^15 - 1 = 32767``
    shingles — far past any chunked corpus.  Oversized documents
    raise at execution time instead of producing a silently corrupt
    signature; chunk first (``corpus_chunk_documents``)."""
    # The two-half recovery below reads md5 hex digits 0-15 (128 bits as
    # two 64-bit halves); bits beyond 64 would silently re-read the lo
    # half (ADVICE r03), so the contract is explicit:
    assert bits <= 64, f"simhash supports at most 64 bits, got {bits}"
    # shingle explode + md5 + conv are the dense per-row work and run
    # in the scan stage — spread an under-split input first (guide
    # §2.5; no-op at scale); the SWAR vote sums are exact integers,
    # partitioning-insensitive
    toks = spread_scan(
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    )
    ex = toks.select(
        F.col(id_col),
        F.explode(shingles_from_tokens("__toks", shingle_k)).alias("shingle"),
    ).select(F.col(id_col), F.md5(F.col("shingle")).alias("h"))
    # Project the hash bits ONCE per row as two 32-bit halves (2 convs,
    # not 16 per-nibble convs — the conv/substring pair dominates the
    # per-row cost), then fold them into ONE 64-bit word so the vote
    # counting can run SWAR-packed (r05; measured: 64 per-bit
    # conditional sums cost ~1.0s of the 1.6s signature pass at sf0.1).
    #
    # SWAR packing: (w >> g) & 0x0001000100010001 extracts the four
    # bits at positions g, g+16, g+32, g+48 into four 16-bit LANES of
    # one long — one shift + one AND per row instead of four
    # shift/AND/CASE chains — and a plain SUM accumulates all four
    # ones-counts at once.  16 packed sums + one row count replace 64
    # conditional sums; vote_j = 2*ones_j - n recovers the EXACT
    # per-bit vote, so signatures stay bit-identical to the DuckDB
    # oracle.  Lane capacity: the top lane's count sits at bit 48 of
    # the signed accumulator, so documents above 2^15 = 32,768
    # shingles would overflow — far past any chunked corpus (enforced
    # upstream by chunking; the reference corpus peaks at ~10³).
    #
    # Bit placement: vote bit j lives in the md5 at nibble i = j//4
    # (hex digit, MSB first), bit j%4 — i.e. position
    # 32 + (7 - i)*4 + j%4 of w = (hi << 32) | lo for i < 8, else
    # (15 - i)*4 + j%4.  The lane→vote wiring below just inverts that
    # compile-time permutation.
    #
    # Every expression below is a SQL string: it parses in one py4j
    # round trip, where the same tree built from Column objects takes
    # several per node (thousands per build for the 64-bit assembly).
    w64 = ex.select(
        F.col(id_col),
        F.expr(
            "shiftleft(CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT), 32)"
            " | CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT) AS w"
        ),
    )
    lane_mask = 0x0001000100010001
    voted = w64.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.expr(f"sum(shiftrightunsigned(w, {g}) & {lane_mask}L) AS p{g}")
            for g in range(16)
        ],
    )

    def _pos(j: int) -> int:
        i = j // 4
        return (
            32 + (7 - i) * 4 + (j % 4) if i < 8 else (15 - i) * 4 + (j % 4)
        )

    def _bit(j: int) -> str:
        # vote_j > 0  ⟺  2*ones_j > n; a tie (2*ones_j == n) is bit 0
        q = _pos(j)
        g, lane = q % 16, q // 16
        ones = f"(shiftrightunsigned(p{g}, {lane * 16}) & 65535)"
        value = -(2**63) if j == 63 else 1 << j
        return f"CASE WHEN {ones} * 2 > __n THEN {value}L ELSE 0L END"

    # The signature is the OR of 64 per-bit CASEs over disjoint bits
    # (equal to their sum); bit 63 is the sign bit's negative literal.
    # Runtime guard on the SWAR lane capacity (ADVICE r05): a document
    # with more than 2^15-1 shingles would carry a lane count past the
    # 16-bit boundary and silently corrupt every higher lane.  __n is
    # already aggregated, so the check is one comparison per DOCUMENT
    # row — fail loudly instead of emitting a wrong signature.
    sig = " | ".join(_bit(j) for j in range(bits))
    return voted.select(
        F.col(id_col),
        F.expr(
            f"CASE WHEN __n > {_SWAR_MAX_SHINGLES} THEN CAST(raise_error(concat("
            f"'simhash: document exceeds {_SWAR_MAX_SHINGLES} shingles (',"
            " CAST(__n AS STRING), ') — SWAR 16-bit lane capacity; chunk"
            " upstream (e.g. corpus_chunk_documents) before hashing'))"
            f" AS BIGINT) ELSE {sig} END AS simhash"
        ),
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    corpus_index: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    bloom_bits: int | None = 1 << 20,
) -> tuple[DataFrame, DataFrame]:
    """The incremental-ingest flow a continuously-fed training corpus
    runs: dedup a NEW batch against the persisted corpus WITHOUT
    rescanning the corpus — only its digest index (one md5 row per
    distinct document ever kept).

    Returns ``(fresh, index_delta)``:

    * ``fresh`` — new-batch rows whose normalized content digest is
      absent from the index AND first within the batch (keep-min-id);
    * ``index_delta`` — the digest rows to APPEND to the index so the
      next batch sees today's documents.  Column contract:
      ``(fingerprint, kept_id, n_copies)`` where ``n_copies`` counts
      copies WITHIN THIS BATCH only (like ``exact_duplicates`` does
      for a single frame).  Cross-batch re-ingests of an
      already-indexed document are screened out, NOT accumulated onto
      the existing index row — an append-only index cannot update
      prior rows; sum ``n_copies`` over deltas if a running total is
      needed.

    Scale shape: the corpus never re-reads; the index is |distinct
    docs| single-digest rows.  For a left-anti join, right-side rows
    that match nothing can be dropped without changing the result —
    so the bloom filter is built from the BATCH fingerprints (tiny,
    rebuilt per batch for pennies) and PRE-PRUNES THE INDEX side:
    index rows that miss the batch's bloom are guaranteed unmatched
    and never enter the anti join's exchange.  Steady-state shuffle
    volume is ≈|batch| + |true re-ingests| + fp·|index| rows, not
    |index| — the property that makes per-batch cost flat as the
    corpus grows.  (``bloom_bits``: filter size; ≈10 bits per batch
    key keeps fp ≈1%; None = plain anti join.)  Composes with the
    near-dup family by feeding ``fresh`` into minhash/simhash
    afterwards.

    NULL-text contract (pinned by test): md5 of a NULL normalization
    is NULL, so null-text rows collapse WITHIN a batch (window groups
    nulls together) but are never matched ACROSS batches (anti-join
    keys don't equal NULL) — each batch's first null-text row is kept
    and its null digest re-appended.  Deliberate: content-less rows
    are a quality-filter concern (``corpus_quality_funnel``), not a
    dedup identity, and the SQL oracle (NOT EXISTS on equality)
    replays exactly this."""
    from .bloom import bloom_build, bloom_prune  # local: avoid import cycle

    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    hashed = new_docs.withColumn("fingerprint", F.md5(norm))
    w = Window.partitionBy("fingerprint")
    batch_first = (
        hashed.withColumn(
            "__rn", F.row_number().over(w.orderBy(F.col(id_col).asc()))
        )
        .withColumn("__n_copies", F.count(F.lit(1)).over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    if corpus_index is not None:
        idx_keys = corpus_index.select("fingerprint")
        if bloom_bits:
            # build from pre-window digests: same key set as batch_first
            # (duplicates are harmless in a bloom build) and it skips
            # recomputing the keep-first window a second time.
            batch_bloom = bloom_build(
                hashed.select("fingerprint"), "fingerprint",
                num_bits=bloom_bits,
            )
            idx_keys = bloom_prune(
                idx_keys, "fingerprint", batch_bloom, num_bits=bloom_bits
            )
        fresh = batch_first.join(idx_keys, "fingerprint", "left_anti")
    else:
        fresh = batch_first
    index_delta = fresh.select(
        "fingerprint",
        F.col(id_col).alias("kept_id"),
        F.col("__n_copies").cast("long").alias("n_copies"),
    )
    return fresh.drop("fingerprint", "__n_copies"), index_delta


def bands_of(
    sig: DataFrame, id_col: str = "doc_id", num_hashes: int = 16, bands: int = 8
) -> DataFrame:
    """Public banding projection: (id, band, bucket) rows for a
    signature frame.  Persist this next to the signature index and
    append ``bands_of(sig_delta)`` per batch so
    ``incremental_minhash_dedup`` can skip re-banding the whole index
    every batch (pass it as ``banded_index``) — at corpus scale the
    re-banding is an O(index × bands) explode per batch, the one
    index-proportional step the screen otherwise keeps."""
    return _bands_of(sig, id_col, num_hashes, bands)


def _bands_of(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) rows for a signature frame — the banding half
    of lsh_candidate_pairs, reusable against a PERSISTED index."""
    r = num_hashes // bands
    band_rows = []
    for b in range(bands):
        cols = [F.col(f"mh{b * r + j}").cast("string") for j in range(r)]
        band_rows.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("|", *cols).alias("bucket"),
            )
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_rows)).alias("bk")
    ).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    sig_index: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.6,
    banded_index: DataFrame | None = None,
    new_sig: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup sibling of ``incremental_exact_dedup``: screen a new
    batch against the persisted corpus SIGNATURE index (one
    K-minhash row per kept doc) — the corpus text is never needed.

    LSH banding joins batch bands to index bands on (band, bucket);
    candidates verify by ESTIMATED Jaccard — the fraction of the K
    minhashes that agree, the standard unbiased estimator — since the
    index carries signatures, not shingle sets.  Returns ``(fresh,
    sig_delta)``: batch docs with no index match ≥ threshold, and
    their signatures to append.  Within-batch near-dups are the
    caller's second step (run ``minhash_lsh_dedup`` on ``fresh``).

    Scale shape: one signature pass over the BATCH only; the band join
    shuffles on bucket keys (persist the banded index too at corpus
    scale to skip re-banding); per-candidate verify is K column
    compares against two broadcast-or-hash-joined signature rows.
    The batch signature frame is CACHED: it feeds the band
    expansion, the verify join, and both outputs — without the cache
    each reference re-derives the shingle→md5→min aggregation (r05,
    measured 3× sig recompute in the registered two-batch spec).  The
    cache is K longs per batch doc; the INDEX is deliberately not
    cached (caller-owned, corpus-sized, usually a parquet scan).
    Cache lifetime: a returned lazy frame cannot unpersist its own
    inputs, so the entry lives until storage-pool LRU eviction or an
    explicit ``catalog.clearCache()`` — per-batch ingest LOOPS should
    clear after materializing both outputs (the foreachBatch demo in
    tests/test_streaming.py does), one-shot queries can ignore it.

    ``new_sig``: optionally pass the batch's precomputed
    ``minhash_signature`` frame (same ``num_hashes``/``shingle_k``;
    caller owns its caching) — for replay/backfill flows that derive
    several batches from one corpus scan, one shared signature pass
    replaces a per-batch recompute (the registered suite's DuckDB
    oracle is already written this way: one ``sig`` CTE, filtered
    per batch)."""
    sig_cols = [f"mh{i}" for i in range(num_hashes)]
    if new_sig is None:
        new_sig = minhash_signature(
            new_docs, text_col, id_col,
            num_hashes=num_hashes, shingle_k=shingle_k,
        ).cache()
    if sig_index is None:
        # Bootstrap batch: every signature row is fresh, so the delta
        # IS the signature frame — skip the identity semi-join on its
        # own id projection (ids are groupBy keys, never null).
        # ``fresh`` keeps the join: docs with no shingles (null/short
        # text) have no signature row and are dropped from ``fresh``
        # today — that contract stays.
        fresh = new_docs.join(new_sig.select(id_col), id_col, "left_semi")
        return fresh, new_sig
    else:
        nb = _bands_of(new_sig, id_col, num_hashes, bands).withColumnRenamed(
            id_col, "__new_id"
        )
        # A persisted banded index (see ``bands_of``) skips the
        # per-batch O(index × bands) re-banding explode — the verify
        # join still reads signatures from ``sig_index``.
        ib = (
            banded_index
            if banded_index is not None
            else _bands_of(sig_index, id_col, num_hashes, bands)
        ).withColumnRenamed(id_col, "__idx_id")
        cand = (
            nb.join(ib, ["band", "bucket"])
            .select("__new_id", "__idx_id")
            .distinct()
        )
        a = new_sig.select(
            F.col(id_col).alias("__new_id"),
            *[F.col(c).alias(f"__a_{c}") for c in sig_cols],
        )
        b = sig_index.select(
            F.col(id_col).alias("__idx_id"),
            *[F.col(c).alias(f"__b_{c}") for c in sig_cols],
        )
        agree = sum(
            F.when(F.col(f"__a_{c}") == F.col(f"__b_{c}"), 1).otherwise(0)
            for c in sig_cols
        )
        dup_new_ids = (
            cand.join(a, "__new_id")
            .join(b, "__idx_id")
            .withColumn("__est_j", agree / F.lit(num_hashes))
            .where(F.col("__est_j") >= threshold)
            .select(F.col("__new_id").alias(id_col))
            .distinct()
        )
        fresh_ids = new_sig.select(id_col).join(dup_new_ids, id_col, "left_anti")
    fresh = new_docs.join(fresh_ids, id_col, "left_semi")
    sig_delta = new_sig.join(fresh_ids, id_col, "left_semi")
    return fresh, sig_delta


def _simhash_bands(
    sig: DataFrame, id_col: str, n_bands: int
) -> DataFrame:
    """(id, simhash, band, bucket) rows for a simhash frame — the
    pigeonhole banding shared by the within-corpus pair miner and the
    incremental index screen."""
    width = 64 // n_bands
    bands = ", ".join(
        f"named_struct('band', {b}, 'bucket',"
        f" shiftrightunsigned(simhash, {b * width}) & {(1 << width) - 1})"
        for b in range(n_bands)
    )
    return sig.select(
        F.col(id_col), F.col("simhash"), F.expr(f"inline(array({bands}))")
    )


def simhash_bands_of(
    sig: DataFrame, id_col: str = "doc_id", n_bands: int = 4
) -> DataFrame:
    """Public pigeonhole-banding projection: (id, simhash, band,
    bucket) rows for a simhash index frame.  Persist this INSTEAD of
    the raw (id, simhash) index and append ``simhash_bands_of(
    sig_delta)`` per batch so ``incremental_simhash_dedup`` skips
    re-banding the whole index every batch (pass it as
    ``banded_index``).  At corpus scale the index is the big join
    side, and re-deriving its bands is an O(index × n_bands) explode
    per batch — the one index-proportional step the screen otherwise
    keeps (VERDICT r10 task 4).  Unlike the minhash ``bands_of``,
    the banded rows carry the full fingerprint, so the pre-banded
    index is self-sufficient: the xor+popcount verify reads
    ``simhash`` straight off the joined band row, no second join
    back to a signature table."""
    return _simhash_bands(sig, id_col, n_bands)


def incremental_simhash_dedup(
    new_docs: DataFrame,
    sig_index: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    shingle_k: int = 2,
    banded_index: DataFrame | None = None,
    new_sig: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Third incremental-dedup family: screen a new batch against the
    persisted corpus SimHash index (one 64-bit fingerprint per kept
    doc).  Pigeonhole banding joins batch bands to index bands — two
    fingerprints within hamming ``max_hamming`` (< n_bands) must agree
    on ≥1 of the ``n_bands`` 16-bit bands — then the exact
    ``bit_count(xor) <= max_hamming`` filter verifies.

    Returns ``(fresh, sig_delta)`` like its exact/minhash siblings:
    batch docs with no index fingerprint within the hamming radius,
    and their (id, simhash) rows to append to the index.  Scale shape:
    one simhash pass over the BATCH, one short-key band join against
    the index, per-candidate verify is one xor+popcount.  Pass a
    persisted ``simhash_bands_of`` frame as ``banded_index`` to skip
    the per-batch O(index × n_bands) re-banding of the big side —
    with it, ``sig_index`` is never scanned (banded rows carry the
    fingerprint) and the screen's only index-sized work is the band
    hash join itself.  ``banded_index`` must have been built with the
    SAME ``n_bands`` (bucket widths differ otherwise).

    Contract (enforced): the pigeonhole screen is only complete when
    ``max_hamming < n_bands`` (more flipped bits than bands could
    miss every band) and ``64 % n_bands == 0`` (a remainder would
    leave high bits unbanded) — mirrors ``simhash``'s bits<=64
    assert."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands > max_hamming "
            f"(got {n_bands}): with ≤{n_bands - 1} differing bands no "
            "longer guaranteed, near-dups would silently slip the screen"
        )
    if 64 % n_bands:
        raise ValueError(
            f"n_bands={n_bands} must divide 64 — a remainder leaves the "
            "top 64 % n_bands bits out of every band"
        )
    # cached for the same reason as incremental_minhash_dedup: the
    # simhash subtree (shingle explode → md5 → 64 vote sums) feeds
    # bands + anti join + both outputs; 16 bytes/doc buys back a 3×
    # recompute (r05 bench: 8.6s → ~3s on the registered spec).
    # ``new_sig``: optionally precomputed (same contract as the
    # minhash sibling — replay/backfill flows share one signature
    # pass across batches; caller owns its caching).
    if new_sig is None:
        new_sig = simhash(
            new_docs, text_col, id_col, shingle_k=shingle_k
        ).select(id_col, "simhash").cache()
    if sig_index is None and banded_index is None:
        # Bootstrap: the delta IS the signature frame (same identity-
        # semi-join skip, same null/short-text ``fresh`` contract as
        # the minhash sibling).
        fresh = new_docs.join(new_sig.select(id_col), id_col, "left_semi")
        return fresh, new_sig
    else:
        nb = _simhash_bands(new_sig, id_col, n_bands).select(
            F.col(id_col).alias("__new_id"),
            F.col("simhash").alias("__new_sig"),
            "band",
            "bucket",
        )
        ib = (
            banded_index
            if banded_index is not None
            else _simhash_bands(sig_index, id_col, n_bands)
        ).select(F.col("simhash").alias("__idx_sig"), "band", "bucket")
        dup_new_ids = (
            nb.join(ib, ["band", "bucket"])
            .where(
                F.bit_count(
                    F.col("__new_sig").bitwiseXOR(F.col("__idx_sig"))
                )
                <= max_hamming
            )
            .select(F.col("__new_id").alias(id_col))
            .distinct()
        )
        fresh_ids = new_sig.select(id_col).join(dup_new_ids, id_col, "left_anti")
    fresh = new_docs.join(fresh_ids, id_col, "left_semi")
    sig_delta = new_sig.join(fresh_ids, id_col, "left_semi")
    return fresh, sig_delta
