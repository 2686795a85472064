"""Text-analysis operators for the training-data pipeline surface.

Beyond-reference operators (BASELINE.json north star): token counting,
quality scoring, language ID, and document fingerprinting over a
``documents(doc_id, text, ...)`` table.  All pure built-in-function
plans (split / transform / filter / aggregate lambdas) — JVM-side,
whole-stage-codegen'd, no Python UDFs — so they scale linearly with
the corpus and shuffle nothing (per-row maps).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import exact_round, spread_scan, local_rows_df

# Small in-query stopword lists per language for the n-gram/stopword
# language-ID heuristic.  Deliberately tiny: language ID at corpus
# scale is a per-row map; richer lists plug in without plan changes.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "is", "in", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "una"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1", "zhe4", "bu4"],
}


def tokens_col(text: Column | str = "text") -> Column:
    """Whitespace tokenization (split on single space; the corpus is
    single-space-joined).  Empty-string tokens are preserved, matching
    both engines' split semantics."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting (whitespace + BPE-ish char/4 estimate) and basic
    length stats per document.  Per-row map over the text — spread an
    under-split input so it uses the whole cluster (guide §2.5; no-op
    at scale)."""
    df = spread_scan(df)
    toks = tokens_col(text_col)
    return df.select(
        "doc_id",
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        # BPE-ish upper bound: ~1 token / 4 chars, ceil
        F.ceil(F.length(text_col) / F.lit(4.0)).cast("long").alias("n_bpe_est"),
        exact_round(
            (F.length(text_col) - F.size(toks) + 1) / F.size(toks), 4
        ).alias("avg_token_len"),
    )


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    carry_cols: tuple = (),
    spread: bool = True,
) -> DataFrame:
    """Heuristic document-quality score in [0,1]: length band, stopword
    presence, type-token ratio, and alphabetic purity — the standard
    cheap pre-filters for LLM corpus cleaning, as one per-row map.

    ``carry_cols`` rides extra input columns through unchanged (the
    ``pq_train_encode(carry_cols=)`` pattern) so downstream per-domain
    consumers — ``corpus.calibrate_quality_by_domain`` — don't re-join
    the source table on doc_id.

    Regex + token-set work per row is the dense part and runs in the
    scan stage — spread an under-split input first (guide §2.5; no-op
    at scale).  ``spread=False`` opts out for consumers whose NEXT
    operator is itself a shuffle (e.g. the per-domain calibration
    window): there the extra exchange costs more than the map win
    (bench-confirmed +0.3s on quality_calibrate_domains at sf0.1)."""
    if spread:
        df = spread_scan(df)
    toks = tokens_col(text_col)
    n_tokens = F.size(toks)
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), en_stop))
    ttr = F.size(F.array_distinct(toks)) / n_tokens
    len_score = F.when(
        (F.col("n_chars") >= 100) & (F.col("n_chars") <= 10000), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    alpha_ratio = F.length(
        F.regexp_replace(F.col(text_col), "[^a-zA-Z ]", "")
    ) / F.greatest(F.length(text_col), F.lit(1))
    score = (
        F.lit(0.25) * len_score
        + F.lit(0.25) * F.least(stop_hits / F.lit(3.0), F.lit(1.0))
        + F.lit(0.25) * ttr
        + F.lit(0.25) * alpha_ratio
    )
    return df.select(
        "doc_id",
        *carry_cols,
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        exact_round(ttr, 4).alias("type_token_ratio"),
        stop_hits.alias("stopword_hits"),
        exact_round(alpha_ratio, 4).alias("alpha_ratio"),
        exact_round(score, 4).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: count token hits against each
    language's stopword list; argmax with deterministic tiebreak on
    language code order.  Expressed as a single per-row expression —
    no shuffle, no UDF; spread an under-split input so the per-row
    stopword intersections use the whole cluster (guide §2.5; no-op
    at scale)."""
    df = spread_scan(df)
    toks = F.array_distinct(tokens_col(text_col))

    def hits_for(code: str) -> Column:
        lst = F.array(*[F.lit(w) for w in STOPWORDS[code]])
        return F.size(F.array_intersect(toks, lst))

    max_hits = F.greatest(*[hits_for(c) for c in sorted(STOPWORDS)])
    # argmax with first-match-wins tiebreak in sorted code order: build
    # the when-chain from the last code backwards so earlier codes win.
    lang_expr = F.lit("unknown")
    for code in sorted(STOPWORDS, reverse=True):
        lang_expr = F.when(
            (hits_for(code) == max_hits) & (max_hits > 0), F.lit(code)
        ).otherwise(lang_expr)
    return df.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        max_hits.alias("best_hits"),
        lang_expr.alias("detected_lang"),
    )


def hash_embedding(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 16,
) -> DataFrame:
    """Deterministic hash-feature embedding (feature hashing / "hashing
    trick"): each token votes an unnormalized ±1 into one of ``dims``
    buckets via md5 (bucket sums are raw vote counts; consumers that
    need unit scale normalize downstream, e.g. with_norm's L2).
    The container-safe stand-in for a model encoder — the Spark
    plumbing (tokenize → explode → bucket-aggregate → vector assembly)
    is exactly what a real embedding UDF pipeline needs, minus the
    model call, and it feeds the similarity operators directly.

    Pure JVM expressions; one shuffle on id_col."""
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    h = F.md5(F.col("tok"))
    bucket = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(dims)
    )
    sign = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("int") % 2 == 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    votes = (
        toks.select(F.col(id_col), bucket.alias("b"), sign.alias("s"))
        .groupBy(id_col, "b")
        .agg(F.sum("s").alias("v"))
    )
    return (
        votes.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("b", "v"))), lambda x: x["v"]
            ).alias("sparse"),
            F.array_sort(F.collect_list("b")).alias("present"),
        )
        .select(
            F.col(id_col),
            # densify: missing buckets are 0.0 (array_position yields 0
            # for absent values, and element_at(_, 0) throws — guard)
            F.transform(
                F.sequence(F.lit(0), F.lit(dims - 1)),
                lambda d: F.when(
                    F.array_position(F.col("present"), d) > 0,
                    F.element_at(
                        F.col("sparse"),
                        F.array_position(F.col("present"), d).cast("int"),
                    ),
                ).otherwise(F.lit(0.0)),
            ).alias("embedding"),
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of case/whitespace-normalized text —
    the exact-dedup key (normalization-robust variant of raw md5)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    return df.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("n_chars_norm"),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    return_vocab: bool = False,
    checkpoint_every: int = 16,
):
    """Distributed BPE merge training (Sennrich et al. 2016, the
    public byte-pair-encoding algorithm every modern tokenizer
    descends from): learn the top ``n_merges`` merge rules from a
    corpus.  Returns the trained tokenizer artifact — one row per
    merge, in learned order: ``(merge_rank, left_sym, right_sym,
    merged, pair_count)``.

    Spark-first shape: the CORPUS is touched exactly once — a
    whitespace-tokenize → word-frequency aggregate with map-side
    combine (classic BPE trains on the word-freq table, which is
    bounded by vocabulary, not corpus size).  Every iteration then
    runs on that bounded vocab frame: adjacent-pair count (explode +
    hash agg), argmax (ONE driver row pull per merge — the same
    bounded planner-pull class as the quantile brackets), and greedy
    merge application.  At 100 TB the corpus pass dominates and
    parallelizes perfectly; the n_merges iterations cost vocab-sized
    jobs regardless of corpus scale.

    Greedy left-to-right non-overlapping application is a single
    ``aggregate`` (fold) expression per round — a built-in
    higher-order function, JVM-side, NO Python UDF: scan the symbol
    array once, and when the accumulator's last element is ``a`` and
    the incoming one is ``b``, replace the tail with the merged
    symbol.  This is provably the sequential non-overlapping scan:
    a freshly merged tail equals ``a + b``, and ``a + b == a`` is
    impossible (``b`` is non-empty), so a merge output can never be
    re-consumed as the LEFT side within the same round — exactly the
    "candidate taken iff its predecessor position was not" rule the
    unrolled DuckDB oracle replays (including argmax ties: count
    desc, then lexicographic left, right).  The fold replaced the
    r09 form (explode positions → two windows → two joins → re-group)
    which cost ~5 exchanges + a checkpoint job PER ROUND; a narrow
    per-row expression needs neither shuffle nor checkpoint, so each
    round is now exactly ONE job (the pair-count argmax) and the
    round plan is the round-0 checkpoint plus k nested folds —
    linear, driver-safe growth (the old explode/join tree OOMed plan
    stringification around depth 6, which forced the per-round
    checkpoints this form no longer needs).

    The CASE branch order is the ANSI guard: ``element_at(acc, -1)``
    is only reachable once ``size(acc) > 0`` matched the branch above
    it — WHEN conditions evaluate in order, unlike ``AND`` operands
    (ADVICE r06).  ASCII corpus assumption: Spark substring counts
    Java chars, DuckDB indexes codepoints — identical on ASCII,
    documented divergence beyond."""
    words = (
        df.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), "\\s+")
            ).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words.select(
        "w",
        "freq",
        F.expr(
            "array_append(transform(sequence(1, length(w)),"
            " x -> substr(w, x, 1)), '</w>')"
        ).alias("s"),
    ).localCheckpoint()

    spark = df.sparkSession
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        # filter(sequence(1, size), j -> j < size) instead of
        # sequence(1, size-1): Spark's sequence DESCENDS when start >
        # stop, so a fully-merged single-symbol word (size 1) would
        # yield [1, 0] and element_at(s, 0) always throws; DuckDB's
        # generate_series(1, 0) is empty, which this form mirrors.
        pair_rows = vocab.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(filter(sequence(1, size(s)), j -> j < size(s)),"
                    " j -> struct(element_at(s, j) AS a,"
                    "             element_at(s, j + 1) AS b))"
                )
            ).alias("p"),
        )
        best = (
            pair_rows.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .first()
        )
        if best is None:  # vocabulary exhausted (single-symbol words)
            break
        a, b, cnt = best.a, best.b, int(best.cnt)
        merges.append((rank, a, b, a + b, cnt))

        # one narrow fold per round: greedy non-overlapping merge
        # application (equality argument in the docstring); literals
        # bind via F.lit, no SQL-string interpolation of corpus text
        vocab = vocab.withColumn(
            "s",
            F.aggregate(
                F.col("s"),
                F.array().cast("array<string>"),
                lambda acc, x: F.when(F.size(acc) == 0, F.array(x))
                .when(
                    (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(F.lit(a + b)),
                    ),
                )
                .otherwise(F.concat(acc, F.array(x))),
            ),
        )
        # Bound the O(k²) fold recompute for large merge counts
        # (ADVICE r10): round k's argmax otherwise replays all k-1
        # prior folds from the round-0 checkpoint.  A LAZY checkpoint
        # costs no extra job — the next round's full-scan argmax is
        # the materializing action (the r10 fusion pattern from
        # operators/graph.py); at the default n_merges=8 it never
        # fires and the plan stays the pure nested-fold form.
        if rank % checkpoint_every == 0 and rank < n_merges:
            vocab = vocab.localCheckpoint(eager=False)

    merges_df = local_rows_df(
        spark,
        merges,
        "merge_rank int, left_sym string, right_sym string,"
        " merged string, pair_count long",
    )
    if return_vocab:
        # (w, freq, s): the fully-merged segmentation of every corpus
        # word — the lookup table bpe_encode joins against.  Lazy by
        # design: the checkpointed word table + n_merges narrow folds
        # re-run once inside whatever action consumes it.
        return merges_df, vocab
    return merges_df


def bpe_encode(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Tokenize a corpus with a trained BPE segmentation
    (``bpe_train(..., return_vocab=True)``): per document, whitespace
    words look up their merged symbol sequence in the vocab table and
    the sequences flatten back in word order.  Returns
    ``(id, tokens array<string>, n_tokens)`` — one row per INPUT
    document: documents whose text is NULL/empty/whitespace-only come
    back with ``tokens = []`` and ``n_tokens = 0`` rather than being
    silently dropped (ADVICE r06), via a left join from the id spine.

    This is the scale-correct ENCODE path: applying N merge rules
    sequentially would cost N corpus passes, but BPE segmentation is
    a pure function of the word, so one word-level lookup join
    replaces all of them.  Broadcast caveat: ``broadcast_vocab=True``
    assumes the distinct-word table fits an executor (fine for the
    word-freq vocab a single training corpus produces, i.e. millions
    of rows); web-scale corpora reach BILLIONS of distinct words, at
    which point pass ``broadcast_vocab=False`` to take a shuffle hash
    join on ``w`` instead — same plan class both engines pick for
    oversized dims (ADVICE r06).  Out-of-vocabulary words (encoding a
    DIFFERENT corpus than the training one) fall back to their
    character sequence + '</w>' — the merge-free segmentation; a
    serving-grade encoder would replay the merge table on them, which
    the relational form deliberately trades away (documented
    approximation, exact on the training corpus where OOV is
    impossible)."""
    words = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.col(text_col)), "\\s+")
        ).alias("wpos", "w"),
    ).where(F.col("w") != "")
    vocab_side = vocab.select("w", "s")
    if broadcast_vocab:
        vocab_side = F.broadcast(vocab_side)
    looked = words.join(vocab_side, "w", "left").withColumn(
        "toks",
        F.coalesce(
            F.col("s"),
            F.expr(
                "array_append(transform(sequence(1, length(w)),"
                " x -> substr(w, x, 1)), '</w>')"
            ),
        ),
    )
    encoded = looked.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("wpos", "toks"))),
                lambda st: st["toks"],
            )
        ).alias("tokens")
    )
    # Re-attach the id spine: wordless documents produce no rows in
    # `words`, so without this they'd vanish from the output entirely.
    return (
        df.select(id_col)
        .join(encoded, id_col, "left")
        .withColumn(
            "tokens",
            F.coalesce(F.col("tokens"), F.expr("array()").cast("array<string>")),
        )
        .withColumn("n_tokens", F.size("tokens").cast("long"))
    )
