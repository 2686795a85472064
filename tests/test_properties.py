"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY §5 notes it has none): operator invariants that must
hold for ANY input frame, not just the hand-picked fixtures.

One shared SparkSession; hypothesis drives small random frames through
createDataFrame (deadlines disabled — Spark job latency dwarfs the
per-example budget)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.operators import cleaners

# Default example count sized so the full suite fits the driver's
# verify budget (r13 timed it out at ~30 min); raise via env for a
# thorough local sweep: SPARK_GRAFT_HYPOTHESIS_MAX_EXAMPLES=50.
import os as _os

SETTINGS = dict(
    max_examples=int(
        _os.environ.get("SPARK_GRAFT_HYPOTHESIS_MAX_EXAMPLES", "8")
    ),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key (collisions likely)
        st.integers(min_value=0, max_value=100),  # order column
        st.one_of(
            st.none(),
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
        ),
    ),
    min_size=1,
    max_size=25,
)


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_dedup_keep_first_invariants(spark, rows):
    df = spark.createDataFrame(rows, "k int, ord int, v double")
    out = cleaners.remove_duplicates(df, ["k"], "first", ["ord", "v"]).collect()
    keys = [r.k for r in out]
    # one row per key, and it's a row that existed in the input
    assert len(keys) == len(set(keys)) == len({r[0] for r in rows})
    in_rows = {(r[0], r[1]) for r in rows}
    assert all((r.k, r.ord) in in_rows for r in out)
    # the survivor is minimal in the (ord, v) ordering for its key
    for r in out:
        min_ord = min(x[1] for x in rows if x[0] == r.k)
        assert r.ord == min_ord


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_ffill_invariants(spark, rows):
    # unique ordering: bake a synthetic rid tiebreak into the input rows
    # (deterministic, unlike re-evaluated monotonically_increasing_id)
    rows_rid = [(i, k, o, v) for i, (k, o, v) in enumerate(rows)]
    df = spark.createDataFrame(rows_rid, "rid int, k int, ord int, v double")
    out = cleaners.fill_directional(
        df, ["v"], order_by=["ord", "rid"], partition_by=["k"]
    ).collect()
    # non-null values never change; null count never increases.  Keyed on
    # the unique rid (duplicate (k, ord) pairs are legal inputs, so (k, ord)
    # cannot identify a row — a null-v twin would leak None into sorted()).
    in_by_rid = {r[0]: r[3] for r in rows_rid}
    for r in out:
        if in_by_rid[r.rid] is not None:
            assert r.v == in_by_rid[r.rid]
    assert len(out) == len(rows)
    n_null_in = sum(1 for r in rows if r[2] is None)
    n_null_out = sum(1 for r in out if r.v is None)
    assert n_null_out <= n_null_in
    # every filled value is some value present in the input
    in_values = {r[2] for r in rows if r[2] is not None}
    assert all(r.v in in_values for r in out if r.v is not None)


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_interpolate_bounds(spark, rows):
    df = spark.createDataFrame(rows, "k int, ord int, v double")
    df = df.withColumn("rid", F.monotonically_increasing_id())
    out = cleaners.interpolate_linear(
        df, ["v"], order_by=["ord", "rid"], partition_by=["k"]
    ).collect()
    values = [r[2] for r in rows if r[2] is not None]
    if values:
        lo, hi = min(values), max(values)
        for r in out:
            if r.v is not None:
                assert lo - 1e-9 <= r.v <= hi + 1e-9  # interpolation never extrapolates


@given(
    updates_keys=st.sets(st.integers(min_value=0, max_value=9), max_size=10),
)
@settings(**SETTINGS)
def test_upsert_idempotent_and_complete(spark, tmp_path_factory, updates_keys):
    from data_engineering_for_e_commerce_logistics_spark.sources.sinks import (
        upsert_parquet,
    )

    path = str(tmp_path_factory.mktemp("ups") / "t")
    base = spark.createDataFrame([(i, "base") for i in range(10)], "k int, s string")
    base.write.parquet(path)
    updates = spark.createDataFrame(
        [(i, "upd") for i in sorted(updates_keys)], "k int, s string"
    )
    if updates_keys:
        n1 = upsert_parquet(spark, updates, path, ["k"])
        n2 = upsert_parquet(spark, updates, path, ["k"])
        assert n1 == n2 == 10  # keys ⊆ base keys → count invariant
        got = {r.k: r.s for r in spark.read.parquet(path).collect()}
        for k in range(10):
            assert got[k] == ("upd" if k in updates_keys else "base")


@given(n_tokens=st.lists(st.integers(min_value=1, max_value=200), min_size=1, max_size=8))
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunking_invariants(spark, n_tokens):
    """Every token of every doc lands in ≥1 chunk; chunk count is
    exactly ceil-by-stride; no chunk exceeds the window size."""
    from data_engineering_for_e_commerce_logistics_spark.plans.corpus_queries import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(n)))
        for i, n in enumerate(n_tokens)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    t = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(1), F.size(t), F.lit(CHUNK_STRIDE))
    chunks = docs.select(
        "doc_id",
        F.explode(starts).alias("start"),
        F.size(t).alias("n"),
    ).select(
        "doc_id",
        "start",
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("start") + 1).alias("len"),
        "n",
    )
    got = {
        (r["doc_id"]): r
        for r in chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.max(F.col("start") + F.col("len") - 1).alias("covered_to"),
            F.max("len").alias("max_len"),
            F.max("n").alias("n"),
        )
        .collect()
    }
    for i, n in enumerate(n_tokens):
        r = got[i]
        assert r["n_chunks"] == (n - 1) // CHUNK_STRIDE + 1
        assert r["covered_to"] == n  # full coverage, no token dropped
        assert r["max_len"] <= CHUNK_TOKENS


# --- r04: bloom pruning & Morton encoding ----------------------------------


@given(
    probe_keys=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=40),
    build_keys=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=0, max_size=20),
)
@settings(**SETTINGS)
def test_bloom_semi_join_equals_plain_semi_join(spark, probe_keys, build_keys):
    """For ANY key multisets the bloom-pruned semi join must return
    exactly the plain semi join's rows (multiplicity included)."""
    from data_engineering_for_e_commerce_logistics_spark.operators import bloom

    probe = spark.createDataFrame(
        [(k, i) for i, k in enumerate(probe_keys)], "k int, rowid int"
    )
    build = spark.createDataFrame([(k,) for k in build_keys], "k int")
    got = sorted(
        r.rowid
        for r in bloom.bloom_semi_join(
            probe, build, "k", num_bits=256, num_hashes=3
        ).collect()
    )
    want = sorted(i for i, k in enumerate(probe_keys) if k in set(build_keys))
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 16) - 1),
            st.integers(min_value=0, max_value=(1 << 16) - 1),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_morton_sql_matches_python_reference(spark, pairs):
    from data_engineering_for_e_commerce_logistics_spark.operators import layout

    def ref(a, b):
        z = 0
        for j in range(16):
            z |= ((a >> j) & 1) << (2 * j)
            z |= ((b >> j) & 1) << (2 * j + 1)
        return z

    df = spark.createDataFrame(pairs, "a long, b long").withColumn(
        "z", F.expr(layout.morton_sql(["a", "b"], 16))
    )
    for r in df.collect():
        assert r.z == ref(r.a, r.b)


@given(
    old_rows=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 3)), min_size=0, max_size=20
    ),
    new_rows=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 3)), min_size=0, max_size=20
    ),
)
@settings(**SETTINGS)
def test_generate_apply_cdc_round_trip(spark, old_rows, new_rows):
    """For ANY pair of snapshots (unique keys), replaying the generated
    diff onto the old one yields exactly the new one."""
    from data_engineering_for_e_commerce_logistics_spark.sources import sinks

    dedup_old = {k: v for k, v in old_rows}
    dedup_new = {k: v for k, v in new_rows}
    old = spark.createDataFrame(
        list(dedup_old.items()) or [(None, None)], "id int, v int"
    ).where(F.col("id").isNotNull())
    new = spark.createDataFrame(
        list(dedup_new.items()) or [(None, None)], "id int, v int"
    ).where(F.col("id").isNotNull())
    feed = sinks.generate_cdc(old, new, ["id"])
    replayed = sorted(map(tuple, sinks.apply_cdc(old, feed, ["id"]).collect()))
    assert replayed == sorted(dedup_new.items())


@given(
    batches=st.lists(
        st.lists(st.integers(min_value=0, max_value=8), min_size=1, max_size=8),
        min_size=1,
        max_size=4,
    )
)
@settings(**SETTINGS)
def test_incremental_dedup_converges_to_batch_dedup(spark, batches):
    """For ANY sequence of batches (texts drawn from a small pool so
    cross-batch duplicates are common), the accrued index holds exactly
    the distinct contents of the union — incremental == from-scratch."""
    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    next_id = 0
    index_rows: list = []
    all_texts: list = []
    for batch in batches:
        rows = []
        for t in batch:
            rows.append((next_id, f"text number {t}"))
            all_texts.append(f"text number {t}")
            next_id += 1
        bdf = spark.createDataFrame(rows, "doc_id int, text string")
        idx = (
            spark.createDataFrame(
                index_rows, "fingerprint string, kept_id int, n_copies long"
            )
            if index_rows
            else None
        )
        _, delta = incremental_exact_dedup(bdf, idx)
        index_rows.extend(
            (r.fingerprint, r.kept_id, r.n_copies) for r in delta.collect()
        )
    fingerprints = [r[0] for r in index_rows]
    assert len(fingerprints) == len(set(fingerprints))  # no digest twice
    assert len(fingerprints) == len(set(all_texts))  # one per distinct text


@given(
    vecs=st.lists(
        st.tuples(st.floats(-4, 4, allow_nan=False), st.floats(-4, 4, allow_nan=False)),
        min_size=3,
        max_size=12,
    ),
    k=st.integers(min_value=2, max_value=3),
)
@settings(**SETTINGS)
def test_two_level_assign_exact_when_supers_cover(spark, vecs, k):
    """n_super == k (every centroid its own super) must reduce the
    coarse-routed assignment to the exact nearest-centroid map for ANY
    vector set — the degenerate-configuration law of the router."""
    from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
        _as_double_vec,
        _fold_sum,
        two_level_assign,
    )

    rows = [(i, list(v)) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = spark.createDataFrame(
        rows[:k], "centroid_id int, cv array<double>"
    )
    got = {
        r.vec_id: r.cell
        for r in two_level_assign(df, cents, n_super=k).collect()
    }
    base = df.select("vec_id", _as_double_vec("embedding").alias("v"))
    c = cents.select(
        F.col("centroid_id").alias("cid"), _as_double_vec("cv").alias("cv")
    )
    from pyspark.sql import Window

    scored = F.broadcast(c).crossJoin(base).withColumn(
        "d",
        _fold_sum(F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y))),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("d").asc(), F.col("cid").asc())
    want = {
        r.vec_id: r.cid
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(0, 7), st.integers(0, 7), st.floats(0, 1, allow_nan=False)
        ),
        max_size=10,
    ),
    tau=st.floats(0.1, 0.9),
)
@settings(**SETTINGS)
def test_semdedup_prune_idempotent_and_monotone(spark, pairs, tau):
    """Pruning twice with the same pairs changes nothing (the dropped
    ids are already gone), and a higher tau never keeps fewer docs."""
    from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
        semdedup_prune,
    )

    pairs = [(a, b, s) for a, b, s in pairs if a < b]
    corpus = spark.createDataFrame(
        [(i,) for i in range(8)], "vec_id int"
    )
    pdf = spark.createDataFrame(
        pairs or [(0, 0, -1.0)], "id_a int, id_b int, cosine double"
    ).where(F.col("id_a") < F.col("id_b"))
    once = semdedup_prune(corpus, pdf, tau)
    twice = semdedup_prune(once, pdf, tau)
    kept_once = sorted(r.vec_id for r in once.collect())
    assert sorted(r.vec_id for r in twice.collect()) == kept_once
    looser = semdedup_prune(corpus, pdf, min(tau + 0.05, 1.0))
    assert len(sorted(r.vec_id for r in looser.collect())) >= len(kept_once)


span_docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),  # doc_id (distinct enforced below)
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(["a", "b", "c"]),  # tiny alphabet → collisions
                min_size=0,
                max_size=17,
            ).map(" ".join),
        ),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)


@given(docs=span_docs_strategy)
@settings(**SETTINGS)
def test_span_dedup_conservation_for_any_corpus(spark, docs):
    """For ANY corpus: across all cleaned documents, every distinct
    input span appears exactly once; per-doc span accounting is exact
    (n_spans = ceil(tokens/W), kept + dropped = n_spans); one output
    row per input row."""
    from data_engineering_for_e_commerce_logistics_spark.operators.corpus import (
        span_dedup,
    )

    W = 3
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = span_dedup(df, window=W).collect()
    assert len(rows) == len(docs)

    def spans_of(text):
        # mirror the engine contract (ADVICE r07): empty tokens are
        # pre-filtered, so ''/whitespace-only docs have ZERO spans
        if text is None:
            return []
        toks = [t for t in text.split(" ") if t != ""]
        return [" ".join(toks[i : i + W]) for i in range(0, len(toks), W)]

    by_id = dict(docs)
    all_clean, distinct_input = [], set()
    for r in rows:
        inp = spans_of(by_id[r.doc_id])
        distinct_input.update(inp)
        assert r.n_spans == len(inp)
        kept = spans_of(r.text_clean) if r.text_clean != "" else []
        # NOTE: kept spans re-chunked from text_clean may merge across
        # boundaries when a dropped span sat between kept ones — so
        # compare accounting, and token content, not re-chunked spans
        assert r.n_spans_dropped <= r.n_spans
        all_clean.append((r.doc_id, r.text_clean, r.n_spans - r.n_spans_dropped))
    # conservation on the COUNT level: total kept spans == distinct spans
    assert sum(k for _, _, k in all_clean) == len(distinct_input)


# --- BPE fold-application law (r10: the greedy merge application was
# --- rewritten as one `aggregate` fold per round — prove it equals
# --- sequential greedy BPE on arbitrary corpora, not just fixtures) --

def _py_bpe(words: list[str], n_merges: int):
    """Reference Sennrich BPE: word-freq table, per-round pair argmax
    (count desc, then lexicographic left/right), sequential greedy
    non-overlapping application."""
    from collections import Counter

    freq = Counter(words)
    vocab = {w: [*w, "</w>"] for w in freq}
    merges = []
    for rank in range(1, n_merges + 1):
        counts: Counter = Counter()
        for w, f in freq.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, a, b, a + b, cnt))
        for w, s in vocab.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=6),
            min_size=1,
            max_size=6,
        ).map(" ".join),
        min_size=1,
        max_size=3,
    ),
    n_merges=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_bpe_fold_equals_sequential_greedy(spark, docs, n_merges):
    """merges AND final segmentations match the pure-Python sequential
    scan for any corpus — the two-letter alphabet maximizes same-
    symbol runs and merged-symbol re-match chances, the fold's only
    nontrivial cases."""
    from data_engineering_for_e_commerce_logistics_spark.operators.text import (
        bpe_train,
    )

    df = spark.createDataFrame([(d,) for d in docs], "text string")
    merges_df, vocab_df = bpe_train(df, n_merges=n_merges, return_vocab=True)
    got_merges = [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    got_vocab = {r.w: list(r.s) for r in vocab_df.collect()}

    words = [w for d in docs for w in d.split(" ") if w]
    want_merges, want_vocab = _py_bpe(words, n_merges)
    assert got_merges == want_merges
    assert got_vocab == want_vocab


# --- r13 pre-build invariants (diversity / quota / ledger) -------------------

# coordinates are exactly 0 or bounded away from the float32
# underflow zone — the column is array<float>, and a double below
# ~1e-45 casts to 0.0f, silently zero-norming a "nonzero" vector
# (hypothesis found this on the first run)
_coord = st.one_of(
    st.just(0.0),
    st.floats(min_value=0.01, max_value=10.0,
              allow_nan=False, allow_infinity=False),
    st.floats(min_value=-10.0, max_value=-0.01,
              allow_nan=False, allow_infinity=False),
)

vec_groups = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # label (collisions likely)
        st.lists(_coord, min_size=4, max_size=4),
    ),
    min_size=1,
    max_size=18,
)


@given(rows=vec_groups)
@settings(**SETTINGS)
def test_diversity_bounds_any_frame(spark, rows):
    """For ANY embedding frame: mean_pairwise_cos ∈ [−1, 1] (NULL only
    for singletons), mean_cos_centroid ∈ [0, 1], spread ≥ 0, and the
    zero-norm drop never counts a directionless vector."""
    from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
        diversity_report,
    )

    df = spark.createDataFrame(
        [(l, [float(x) for x in v]) for l, v in rows],
        "label int, embedding array<float>",
    )
    nonzero = sum(1 for _, v in rows if any(x != 0.0 for x in v))
    out = diversity_report(df).collect()
    assert sum(r.n_vecs for r in out) == nonzero
    eps = 1e-6
    for r in out:
        if r.n_vecs >= 2:
            assert -1 - eps <= r.mean_pairwise_cos <= 1 + eps
        else:
            assert r.mean_pairwise_cos is None
        assert -eps <= r.mean_cos_centroid <= 1 + eps
        assert r.spread >= -1e-7


event_timelines = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # user (collisions)
        st.integers(min_value=0, max_value=50),  # second offset
        st.sampled_from(["view", "click", "purchase", "other"]),
    ),
    min_size=1,
    max_size=30,
)


@given(rows=event_timelines)
@settings(**SETTINGS)
def test_funnel_stages_monotone_any_timeline(spark, rows):
    """For ANY event set: funnel stage counts are non-increasing
    (reaching step k implies having reached step k−1), and no stage
    exceeds the distinct-user count."""
    from datetime import datetime

    from data_engineering_for_e_commerce_logistics_spark.operators.temporal import (
        event_funnel,
    )

    df = spark.createDataFrame(
        [
            (u, datetime(2024, 1, 1, 0, 0, s), e)
            for u, s, e in rows
        ],
        "user_id long, ts timestamp, event_type string",
    )
    out = {
        r.step: r.n_users
        for r in event_funnel(df, ("view", "click", "purchase")).collect()
    }
    users = len({u for u, _, _ in rows})
    assert out[1] >= out[2] >= out[3]
    assert out[1] <= users
