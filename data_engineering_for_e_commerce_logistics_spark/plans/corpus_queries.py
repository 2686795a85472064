"""Oracle-checked entries for the corpus-pipeline operators
(operators/corpus.py): decontamination, quality funnel, repetition
stats, deterministic split + stratified sample, TF-IDF top terms,
cluster representative selection, and PII redaction.

Exactness notes (cross-engine):
* integer-count outputs are cast BIGINT in the oracle (DuckDB
  sum(int)/CASE sums return HUGEINT — the r01 typed-hash trap);
* every float that crosses the oracle boundary goes through
  functions.exact_round (decimal(28,8) cast, round, double) on BOTH
  sides, so ranking/threshold comparisons cannot drift;
* the split/sample keys are md5 hex strings — identical in every
  engine, unlike rand()/hash() — so assignments are reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions import sql_exact_avg, sql_exact_round
from ..operators import corpus, text
from ..operators.dedup import sql_shingles
from .extended_queries import (
    QUALITY_SCORE_EXPR,
    QUALITY_T_SUBSELECT,
    _EN_STOP_SQL,
)

# --- Decontamination --------------------------------------------------------

BENCH_MOD = 97  # doc_id % 97 == 0 → the stand-in "benchmark" subset
DECON_SHINGLE_K = 3
DECON_MIN_OVERLAP = 3


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥3 word-3-gram
    shingles with the benchmark subset (here: doc_id % 97 == 0 — in a
    real pipeline, the eval suites).  Benchmark shingles broadcast;
    corpus side shuffles only (doc_id, count)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    corp = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    return corpus.decontaminate(
        corp,
        bench,
        shingle_k=DECON_SHINGLE_K,
        min_overlap=DECON_MIN_OVERLAP,
    )


CORPUS_DECONTAMINATE_SQL = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
sh AS (SELECT doc_id, {sql_shingles('tok', DECON_SHINGLE_K)} AS ws FROM tok),
bench AS (SELECT DISTINCT unnest(ws) AS shingle FROM sh
          WHERE doc_id % {BENCH_MOD} = 0),
corp AS (SELECT doc_id, unnest(ws) AS shingle FROM sh
         WHERE doc_id % {BENCH_MOD} <> 0),
ov AS (SELECT c.doc_id, count(*) AS n
       FROM corp c JOIN bench b USING (shingle) GROUP BY 1)
SELECT s.doc_id,
       CAST(coalesce(ov.n, 0) AS BIGINT) AS overlap_shingles,
       coalesce(ov.n, 0) >= {DECON_MIN_OVERLAP} AS contaminated
FROM (SELECT doc_id FROM sh WHERE doc_id % {BENCH_MOD} <> 0) s
LEFT JOIN ov USING (doc_id)
"""

# Fuzzy decontamination uses a denser stand-in benchmark (mod 7 ≈ 14%
# of docs) so the fixture provably contains NEAR-dup pairs crossing
# the corpus/benchmark boundary at every SF (measured: 7 crossing
# pairs at sf0.001, 9 at sf0.01 — mod 97's sparse subset has none).
FUZZY_BENCH_MOD = 7
FUZZY_THRESHOLD = 0.6


def corpus_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup benchmark decontamination (r08 unit-first, r14
    registry candidate): corpus docs whose estimated Jaccard to any
    benchmark doc (stand-in: doc_id % {mod} == 0) reaches 0.6 via
    MinHash-LSH banding + the agreeing-fraction estimator — the
    paraphrase-robust complement of ``corpus_decontaminate``'s exact
    shared-shingle rule.  Benchmark signatures and banded buckets
    broadcast; the corpus side never self-joins."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bench = docs.filter(F.col("doc_id") % FUZZY_BENCH_MOD == 0)
    corp = docs.filter(F.col("doc_id") % FUZZY_BENCH_MOD != 0)
    return corpus.decontaminate_fuzzy(
        corp, bench, threshold=FUZZY_THRESHOLD
    )


def _corpus_decontaminate_fuzzy_sql() -> str:
    from .extended_queries import (
        NUM_HASHES,
        minhash_band_union_sql,
        minhash_sig_ctes,
    )

    agree = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_HASHES)
    )
    return f"""
WITH {minhash_sig_ctes()},
bsig AS (SELECT * FROM sig WHERE doc_id % {FUZZY_BENCH_MOD} = 0),
csig AS (SELECT * FROM sig WHERE doc_id % {FUZZY_BENCH_MOD} <> 0),
cbands AS (
  {minhash_band_union_sql('csig')}
),
bbands AS (
  {minhash_band_union_sql('bsig')}
),
cand AS (
  SELECT DISTINCT cb.doc_id AS cid, bb.doc_id AS bid
  FROM cbands cb JOIN bbands bb
    ON cb.band = bb.band AND cb.bucket = bb.bucket
),
est AS (
  SELECT c.cid, c.bid, ({agree})::DOUBLE / {NUM_HASHES} AS est
  FROM cand c
  JOIN csig a ON a.doc_id = c.cid
  JOIN bsig b ON b.doc_id = c.bid
),
per_doc AS (
  SELECT cid,
         count(DISTINCT CASE WHEN est >= {FUZZY_THRESHOLD} THEN bid END)
           AS n_bench_matches,
         max(est) AS max_est
  FROM est GROUP BY cid
)
SELECT s.doc_id,
       CAST(coalesce(p.n_bench_matches, 0) AS BIGINT) AS n_bench_matches,
       coalesce(p.max_est, 0.0) AS max_est_jaccard,
       coalesce(p.n_bench_matches, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {FUZZY_BENCH_MOD} <> 0) s
LEFT JOIN per_doc p ON p.cid = s.doc_id
"""


CORPUS_DECONTAMINATE_FUZZY_SQL = _corpus_decontaminate_fuzzy_sql()


# --- Decontamination suite (r16 consolidation candidate) ---------------------


def corpus_decon_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-variants consolidation earmarked for r16 (pre-built
    unit-first in r08): the THREE decontamination family members —
    exact shared-shingle (``corpus_decontaminate``, benchmark
    doc_id % 97), MinHash-LSH fuzzy (``corpus_decontaminate_fuzzy``,
    % 7), embedding-space semantic
    (``corpus_decontaminate_semantic``, vec_id % 7) — under one
    padded shape, every retiring spec's cells verbatim (each variant
    keeps ITS proven fixture).  The documents table is cached once
    and serves both text-side variants; the embeddings scan feeds the
    semantic leg.  Unified columns: (variant, id, n_hits, score,
    contaminated) — exact's overlap count rides n_hits with a NULL
    score; fuzzy/semantic carry (match count, best similarity)."""
    from ..operators.similarity import decontaminate_semantic
    from .graph_queries import SEM_DECON_BENCH_MOD, SEM_DECON_TAU

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].cache()
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    nd = F.lit(None).cast("double")
    exact = corpus.decontaminate(
        docs.filter(F.col("doc_id") % BENCH_MOD != 0),
        docs.filter(F.col("doc_id") % BENCH_MOD == 0),
        shingle_k=DECON_SHINGLE_K,
        min_overlap=DECON_MIN_OVERLAP,
    ).select(
        F.lit("exact").alias("variant"),
        F.col("doc_id").alias("id"),
        F.col("overlap_shingles").alias("n_hits"),
        nd.alias("score"),
        "contaminated",
    )
    fuzzy = corpus.decontaminate_fuzzy(
        docs.filter(F.col("doc_id") % FUZZY_BENCH_MOD != 0),
        docs.filter(F.col("doc_id") % FUZZY_BENCH_MOD == 0),
        threshold=FUZZY_THRESHOLD,
    ).select(
        F.lit("fuzzy").alias("variant"),
        F.col("doc_id").alias("id"),
        F.col("n_bench_matches").alias("n_hits"),
        F.col("max_est_jaccard").alias("score"),
        "contaminated",
    )
    semantic = decontaminate_semantic(
        emb.filter(F.col("vec_id") % SEM_DECON_BENCH_MOD != 0),
        emb.filter(F.col("vec_id") % SEM_DECON_BENCH_MOD == 0),
        tau=SEM_DECON_TAU,
    ).select(
        F.lit("semantic").alias("variant"),
        F.col("vec_id").alias("id"),
        F.col("n_bench_hits").alias("n_hits"),
        F.col("max_cosine").alias("score"),
        "contaminated",
    )
    return exact.unionByName(fuzzy).unionByName(semantic)


def _corpus_decon_suite_sql() -> str:
    from .graph_queries import CORPUS_DECONTAMINATE_SEMANTIC_SQL

    return f"""
SELECT 'exact' AS variant, doc_id AS id, overlap_shingles AS n_hits,
       CAST(NULL AS DOUBLE) AS score, contaminated
FROM ({CORPUS_DECONTAMINATE_SQL})
UNION ALL
SELECT 'fuzzy', doc_id, n_bench_matches, max_est_jaccard, contaminated
FROM ({CORPUS_DECONTAMINATE_FUZZY_SQL})
UNION ALL
SELECT 'semantic', vec_id, n_bench_hits, max_cosine, contaminated
FROM ({CORPUS_DECONTAMINATE_SEMANTIC_SQL})
"""


# CORPUS_DECON_SUITE_SQL is served lazily via module __getattr__ (end
# of file): building it eagerly would import graph_queries at module
# init, and graph_queries already imports THIS module mid-init for the
# split-suite SQL — the eager pair deadlocks whichever side loads
# second (observed: AttributeError on the partially initialized
# module).  PEP 562 defers the cross-import to first attribute access,
# which always happens after both modules finish initializing.


# --- Domain-calibrated quality (r16 debut candidate) -------------------------

CALIBRATE_KEEP_FRAC = 0.5


def quality_calibrate_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-balanced quality retention (r08 unit-first, r16 registry
    candidate): the text-analysis heuristic quality score calibrated
    to its within-``source`` percent rank, one global cut keeping the
    top half of EVERY domain — raw scores are incomparable across
    domains, calibrated ranks are.  One scan, one window shuffle."""
    from ..operators.text import quality_score

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # spread=False: the calibration window shuffles by source right
    # after the score map, so the fan-out exchange would be a second,
    # unrecouped shuffle (bench-confirmed +0.3s at sf0.1)
    scored = quality_score(docs, carry_cols=("source",), spread=False)
    return corpus.calibrate_quality_by_domain(
        scored, keep_frac=CALIBRATE_KEEP_FRAC
    )


QUALITY_CALIBRATE_DOMAINS_SQL = f"""
WITH t AS (
  SELECT doc_id, source, text, n_chars,
         list_distinct(string_split(text, ' ')) AS dtoks,
         len(string_split(text, ' ')) AS ntoks
  FROM documents
),
q AS (
  SELECT doc_id, source, {QUALITY_SCORE_EXPR} AS quality_score FROM t
)
SELECT doc_id, source, quality_score,
       percent_rank() OVER (
         PARTITION BY source ORDER BY quality_score ASC, doc_id ASC
       ) AS calibrated,
       percent_rank() OVER (
         PARTITION BY source ORDER BY quality_score ASC, doc_id ASC
       ) >= {1.0 - CALIBRATE_KEEP_FRAC} AS kept
FROM q
"""

# --- Quality funnel ---------------------------------------------------------


def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return corpus.quality_funnel(docs)


def _funnel_rule_conditions() -> dict[str, str]:
    """The DuckDB twins of corpus._funnel_rules, over a CTE exposing
    (text, ntoks, dtoks, g2) — shared by the fused funnel aggregate
    and the training-corpus lineage oracle."""
    lo, hi = corpus.FUNNEL_WORD_LEN_RANGE
    return {
        "too_short": f"ntoks < {corpus.FUNNEL_MIN_TOKENS}",
        "too_long": f"ntoks > {corpus.FUNNEL_MAX_TOKENS}",
        "word_len_out_of_range": (
            f"((length(text) - ntoks + 1) / ntoks < {lo}"
            f" OR (length(text) - ntoks + 1) / ntoks > {hi})"
        ),
        "low_stopword": (
            f"len(list_intersect(dtoks, {_EN_STOP_SQL}))"
            f" < {corpus.FUNNEL_MIN_STOPWORD_HITS}"
        ),
        "low_alpha": (
            "length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))"
            f" / greatest(length(text), 1) < {corpus.FUNNEL_MIN_ALPHA_RATIO}"
        ),
        "repetitive": (
            "(CASE WHEN ntoks - 1 > 0"
            " THEN 1.0 - len(g2)::DOUBLE / (ntoks - 1) ELSE 0.0 END)"
            f" > {corpus.FUNNEL_MAX_DUP_2GRAM}"
        ),
    }


def _funnel_sql() -> str:
    """Mirror of corpus._funnel_rules over a tokenized CTE — each rule
    is the same arithmetic on both engines; CASE sums cast BIGINT."""
    rules = _funnel_rule_conditions()
    fails = ",\n       ".join(
        f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS fail_{name}"
        for name, cond in rules.items()
    )
    keep = " AND ".join(f"NOT ({cond})" for cond in rules.values())
    g2 = sql_shingles("string_split(text, ' ')", 2)
    return f"""
WITH t AS (
  SELECT text,
         len(string_split(text, ' ')) AS ntoks,
         list_distinct(string_split(text, ' ')) AS dtoks,
         {g2} AS g2
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       {fails},
       CAST(sum(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
FROM t
"""


CORPUS_QUALITY_FUNNEL_SQL = _funnel_sql()

# --- Repetition stats -------------------------------------------------------


def corpus_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return corpus.repetition_stats(docs)


_G2_EXPR = sql_shingles("string_split(text, ' ')", 2)

CORPUS_REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id,
         string_split(text, ' ') AS tok,
         len(string_split(text, ' ')) AS ntoks,
         list_distinct(string_split(text, ' ')) AS dtoks,
         {_G2_EXPR} AS g2
  FROM documents
)
SELECT doc_id,
       ntoks AS n_tokens,
       {sql_exact_round('1.0 - len(dtoks)::DOUBLE / ntoks', 4)} AS dup_token_frac,
       {sql_exact_round(
           'CASE WHEN ntoks - 1 > 0'
           ' THEN 1.0 - len(g2)::DOUBLE / (ntoks - 1) ELSE 0.0 END', 4
       )} AS dup_2gram_frac,
       list_max(list_transform(dtoks,
                t -> len(list_filter(tok, x -> x = t)))) AS top_token_count,
       {sql_exact_round(
           'list_max(list_transform(dtoks,'
           ' t -> len(list_filter(tok, x -> x = t))))::DOUBLE / ntoks', 4
       )} AS top_token_frac
FROM t
"""

# --- Deterministic split + stratified sample --------------------------------

SAMPLE_PER_STRATUM = 10


def corpus_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic train/val/test assignment plus an exact
    per-(lang, split) sample of 10 docs, ordered by the hash key —
    one per-row map and one window shuffle on the strata."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    assigned = corpus.split_assign(docs.select("doc_id", "lang"))
    return corpus.stratified_sample_flag(
        assigned, ["lang", "split"], SAMPLE_PER_STRATUM, "hash_key"
    ).select("doc_id", "lang", "hash_key", "split", "sample_rank", "in_sample")


CORPUS_SPLIT_SAMPLE_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         md5(doc_id::VARCHAR) AS hash_key,
         CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'd' THEN 'train'
              WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'f' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT doc_id, lang, hash_key, split,
       CAST(row_number() OVER (PARTITION BY lang, split ORDER BY hash_key)
            AS BIGINT) AS sample_rank,
       row_number() OVER (PARTITION BY lang, split ORDER BY hash_key)
         <= {SAMPLE_PER_STRATUM} AS in_sample
FROM t
"""

# --- Per-source hashed-bigram LM grid --------------------------------------

DR_BUCKETS = 64


# The (domain × bucket) LM-grid CTE chain SOURCE_DIVERGENCE_SQL reads
# (mirrors operators/corpus.py:domain_bucket_grid).
DOMAIN_GRID_CTES = f"""tok AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
feats AS (
  SELECT doc_id, source,
         (('0x' || substr(md5(f), 1, 8))::BIGINT % {DR_BUCKETS}) AS b
  FROM (
    SELECT doc_id, source,
           unnest(list_concat(t,
             list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                            i -> t[i] || ' ' || t[i + 1]))) AS f
    FROM tok
  )
),
cnts AS (
  SELECT source, b, CAST(count(*) AS BIGINT) AS c
  FROM feats GROUP BY source, b
),
tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_feats FROM cnts GROUP BY source
),
grid AS (
  SELECT t.source, t.n_feats, gs.b, coalesce(c.c, 0) AS c,
         CAST(coalesce(c.c, 0) * 2 + 1 AS DOUBLE)
           / CAST(t.n_feats * 2 + {DR_BUCKETS} AS DOUBLE) AS p_own
  FROM tot t
  CROSS JOIN (SELECT CAST(unnest(generate_series(0, {DR_BUCKETS - 1}))
                          AS BIGINT) AS b) gs
  LEFT JOIN cnts c ON c.source = t.source AND c.b = gs.b
)"""


def source_divergence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between every two sources'
    hashed-bigram bucket LMs (pre-built r13; ``operators/corpus.py:
    source_divergence_matrix``) — the distributional twin of
    ``source_overlap_matrix``: overlap catches copied documents, this
    catches crawls that merely WRITE alike.  One row per unordered
    source pair, JS ∈ [0, ln 2], per-bucket terms 9dp-rounded into a
    decimal sum.  Scale: the corpus collapses to the shared K×B grid
    once; the pair expansion is grid × broadcast-grid on the bucket
    key — bounded by the domain count squared, never the corpus."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return corpus.source_divergence_matrix(
        docs, domain_col="source", n_buckets=DR_BUCKETS
    )


SOURCE_DIVERGENCE_SQL = f"""
WITH {DOMAIN_GRID_CTES},
pairs AS (
  SELECT a.source AS source_a, b2.source AS source_b,
         a.p_own AS p, b2.p_own AS q
  FROM grid a JOIN grid b2 ON a.b = b2.b AND a.source < b2.source
),
terms AS (
  SELECT source_a, source_b,
         {sql_exact_round(
             "0.5 * p * ln(p / ((p + q) / 2))"
             " + 0.5 * q * ln(q / ((p + q) / 2))", 9)} AS t
  FROM pairs
)
SELECT source_a, source_b,
       cast(sum(cast(t AS DECIMAL(28,9))) AS DOUBLE) AS js_div
FROM terms GROUP BY source_a, source_b
"""

# --- Sequence packing -------------------------------------------------------

PACK_TOKEN_BUDGET = 512


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk training-sequence packing per (source, shard):
    md5-ordered stream cut every 512 tokens; windows run per shard so
    no global sort exists at any corpus size."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return corpus.pack_sequences(docs, token_budget=PACK_TOKEN_BUDGET)


CORPUS_PACK_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         md5(doc_id::VARCHAR) AS hash_key,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 1))::INT AS shard,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT *,
         sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY hash_key
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id, source, shard, hash_key, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST(floor((cum - n_tokens)::DOUBLE / {PACK_TOKEN_BUDGET}) AS BIGINT)
         AS bin_id
FROM c
"""

# --- Domain mixing ----------------------------------------------------------


def corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-target domain rebalancing: per-source keep-rate
    broadcast onto the corpus, hash-thresholded membership."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return corpus.domain_mix_sample(docs)


# --- TF-IDF top terms -------------------------------------------------------

TFIDF_TOPK = 3


def corpus_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return corpus.tfidf_topk(docs, k=TFIDF_TOPK)


CORPUS_TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM terms GROUP BY doc_id, term),
docfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
         {sql_exact_round('tf.tf * ln((n.n_docs + 1.0) / (docfreq.df + 1.0))', 4)}
           AS tfidf
  FROM tf JOIN docfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank
FROM ranked WHERE rank <= {TFIDF_TOPK}
"""


# --- Cluster representative selection ---------------------------------------


def corpus_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which copy survives near-dedup: the LSH pair graph's connected
    components (graph_queries.dedup_clusters), each reduced to its
    highest-quality member — the full dedup → cluster → select
    pipeline in one query."""
    from . import graph_queries as gq

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    clusters = gq.dedup_clusters(spark, sf_dir)
    quality = text.quality_score(docs)
    return corpus.cluster_representatives(clusters, quality)


def _cluster_reps_sql() -> str:
    from .graph_queries import DEDUP_CLUSTERS_SQL

    # DEDUP_CLUSTERS_SQL is "WITH RECURSIVE <ctes> SELECT ... FROM reach
    # GROUP BY node" — wrap its final select as another CTE.
    body, final = DEDUP_CLUSTERS_SQL.rsplit("SELECT", 1)
    return f"""{body}
, clusters AS (SELECT{final})
, q AS (
  SELECT doc_id, {QUALITY_SCORE_EXPR} AS quality_score
  FROM ({QUALITY_T_SUBSELECT})
)
, ranked AS (
  SELECT c.cluster_id, c.doc_id, q.quality_score,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn,
         CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT)
           AS cluster_size
  FROM clusters c JOIN q USING (doc_id)
)
SELECT cluster_id, doc_id AS rep_doc_id, quality_score, cluster_size
FROM ranked WHERE rn = 1
"""


CORPUS_CLUSTER_REPS_SQL = _cluster_reps_sql()

# --- PII redaction ----------------------------------------------------------


def pii_redact_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digit redaction over customer names (the synthetic corpus's only
    digit-bearing identity column), keeping the last 4 clear — the
    regex-scrub plan shape for any PII pattern at corpus scale."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    return corpus.redact_digits(
        cust.select("c_custkey", "c_name"), "c_name", keep_last=4
    ).select("c_custkey", "c_name_masked", "c_name_digits_redacted")


PII_REDACT_SQL = """
WITH t AS (
  SELECT c_custkey,
         substring(c_name, 1, length(c_name) - 4) AS head,
         substring(c_name, length(c_name) - 3) AS tail
  FROM customer
)
SELECT c_custkey,
       regexp_replace(head, '[0-9]', '#', 'g') || tail AS c_name_masked,
       CAST(length(head) - length(regexp_replace(head, '[0-9]', '', 'g'))
            AS BIGINT) AS c_name_digits_redacted
FROM t
"""


# --- Self-trained bigram-LM quality score (perplexity proxy) ----------------


def corpus_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality scoring without the external
    LM: train bigram statistics on the corpus itself (one pass), score
    each document by its mean conditional bigram probability
    avg(c(w1 w2) / c(w1 ·)) — a monotone perplexity proxy that ranks
    repetitive/templated text high and token soup low, with no ln()
    call (engine libm log implementations differ in the last ulp; a
    ratio mean crosses the oracle boundary exactly via the decimal
    sum).

    Scale shape: bigram extraction is a per-row zip (no shuffle);
    counts are two hash aggregates on (bigram) and (w1); scoring is
    two key-partitioned hash joins of the exploded corpus against its
    own count tables — the standard distributed n-gram-LM join, no
    driver state, no broadcast of the unbounded vocabulary.  With a
    pruned top-V vocabulary the count tables become broadcast-able and
    the shuffle drops out."""
    from ..functions import spread_scan

    # the per-row bigram zip + explode is the dense work and runs in
    # the scan stage — spread an under-split corpus first (guide §2.5;
    # no-op at scale); all downstream aggregates are exact
    docs = spread_scan(
        load_tables(spark, sf_dir, ("documents",))["documents"]
    )
    t = F.split(F.col("text"), " ")
    n = F.size(t)
    bgs = (
        F.when(
            n >= 2,
            F.zip_with(
                F.slice(t, 1, n - 1),
                F.slice(t, 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    doc_bg = docs.select("doc_id", F.explode(bgs).alias("bg"))
    bg_counts = doc_bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    w1 = F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
    w1_counts = bg_counts.groupBy(w1.alias("w1")).agg(F.sum("c12").alias("c1"))
    scored = (
        doc_bg.join(bg_counts, "bg")
        .withColumn("w1", w1)
        .join(w1_counts, "w1")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr(sql_exact_avg("cast(c12 as double) / c1", 6)).alias("lm_score"),
    )


CORPUS_LM_QUALITY_SQL = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
doc_bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM tok
),
bg_counts AS (SELECT bg, count(*) AS c12 FROM doc_bg GROUP BY bg),
w1_counts AS (
  SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
  FROM bg_counts GROUP BY 1
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       {sql_exact_avg("cast(c12 as double) / c1", 6)} AS lm_score
FROM doc_bg d
JOIN bg_counts USING (bg)
JOIN w1_counts ON w1_counts.w1 = split_part(d.bg, ' ', 1)
GROUP BY d.doc_id
"""


# --- Document chunking (context-window preprocessing) -----------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap


def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    standard context-window preprocessing step before tokenization/
    embedding (stride < size ⇒ fixed overlap carries context across
    boundaries).

    Per-row explode of a computed start-position sequence, then an
    array slice + join per chunk: zero shuffles, pure JVM expressions,
    output rows = Σ ceil(tokens/stride) — linear in corpus size and
    embarrassingly parallel, the ideal 100 TB shape."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    t = F.split(F.col("text"), " ")
    n = F.size(t)
    starts = F.sequence(F.lit(1), n, F.lit(CHUNK_STRIDE))
    return (
        docs.select("doc_id", t.alias("t"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.col("start").cast("long").alias("start"),
            F.least(
                F.lit(CHUNK_TOKENS), F.size("t") - F.col("start") + 1
            ).cast("long").alias("n_tokens"),
            F.array_join(
                F.slice("t", F.col("start"), F.lit(CHUNK_TOKENS)), " "
            ).alias("chunk_text"),
        )
    )


CORPUS_CHUNK_SQL = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
st AS (
  SELECT doc_id, t,
         unnest(generate_series(1, len(t), {CHUNK_STRIDE})) AS start
  FROM tok
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS start,
       CAST(least({CHUNK_TOKENS}, len(t) - start + 1) AS BIGINT) AS n_tokens,
       array_to_string(t[start : start + {CHUNK_TOKENS} - 1], ' ') AS chunk_text
FROM st
"""


# --- Cross-document span dedup (C4-style line dedup, generalized) -----------

SPAN_WINDOW = 10


def corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document span dedup (``corpus.span_dedup``): every
    distinct 10-token span keeps its global first occurrence only —
    the C4/RefinedWeb line-dedup stage for corpora without line
    structure.  One shuffle on span text + one reassembly agg; r07
    unit-first debut (differential in tests/test_corpus.py), r08+
    registry candidate."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return corpus.span_dedup(docs, window=SPAN_WINDOW)


CORPUS_SPAN_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), tk -> tk <> '') AS tok
  FROM documents
),
spans AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(tok[i * {SPAN_WINDOW} + 1 : i * {SPAN_WINDOW} + {SPAN_WINDOW}], ' ') AS span_text
  FROM t, unnest(range(CAST(ceil(len(tok) / {SPAN_WINDOW}.0) AS INT))) AS r(i)
),
ranked AS (
  SELECT doc_id, span_idx, span_text,
         row_number() OVER (PARTITION BY span_text
                            ORDER BY doc_id, span_idx) = 1 AS keep
  FROM spans
),
agg AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_spans,
         sum((NOT keep)::INT)::BIGINT AS n_spans_dropped,
         string_agg(CASE WHEN keep THEN span_text END, ' '
                    ORDER BY span_idx) AS text_clean
  FROM ranked GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.text_clean, '') AS text_clean,
       coalesce(a.n_spans, 0)::BIGINT AS n_spans,
       coalesce(a.n_spans_dropped, 0)::BIGINT AS n_spans_dropped
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


# --- BPE merge training (r06 unit-first debut; r07+ registry candidate) -----

BPE_N_MERGES = 6


def bpe_merges_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the top BPE_N_MERGES byte-pair-encoding merges on the
    documents corpus — the trained-tokenizer artifact as a query
    (``operators/text.py:bpe_train``).  One corpus pass (word-freq
    agg), then vocab-bounded iterations; the oracle unrolls all
    rounds with MATERIALIZED CTEs (DuckDB 1.0 inlines plain CTEs and
    the chained re-evaluation is exponential — measured: the 5-round
    plain form did not finish, the materialized form runs in 0.1s)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return text.bpe_train(docs, n_merges=BPE_N_MERGES)


def _bpe_iter_block(i: int) -> str:
    return f"""
p{i} AS MATERIALIZED (
  SELECT s[j] AS a, s[j+1] AS b, sum(freq) AS cnt
  FROM v{i}, unnest(generate_series(1, len(s)-1)) AS t(j)
  GROUP BY 1,2
),
best{i} AS MATERIALIZED (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
pos{i} AS MATERIALIZED (
  SELECT w, freq, j, s[j] AS sym,
         (j < len(s) AND s[j] = bb.a AND s[j+1] = bb.b) AS cand
  FROM v{i}, best{i} bb, unnest(generate_series(1, len(s))) AS t(j)
),
sel{i} AS MATERIALIZED (
  SELECT w, j, (rn % 2 = 1) AS take FROM (
    SELECT w, j, row_number() OVER (PARTITION BY w, j - crn ORDER BY j) AS rn
    FROM (SELECT w, j, row_number() OVER (PARTITION BY w ORDER BY j) AS crn
          FROM pos{i} WHERE cand)
  )
),
v{i + 1} AS MATERIALIZED (
  SELECT p.w, any_value(p.freq) AS freq,
         list(CASE WHEN coalesce(s.take, false) THEN p.sym || bb.b
                   ELSE p.sym END ORDER BY p.j) AS s
  FROM pos{i} p
  CROSS JOIN best{i} bb
  LEFT JOIN sel{i} s ON s.w = p.w AND s.j = p.j AND s.take
  LEFT JOIN sel{i} prev ON prev.w = p.w AND prev.j = p.j - 1 AND prev.take
  WHERE prev.j IS NULL
  GROUP BY p.w
)"""


def _bpe_merges_sql() -> str:
    rounds = ",".join(_bpe_iter_block(i) for i in range(BPE_N_MERGES))
    # cnt is sum(BIGINT) = HUGEINT in DuckDB — cast back to BIGINT or
    # the typed hash splits on int-vs-float (the r01 trap)
    union = "\nUNION ALL\n".join(
        f"SELECT {i + 1} AS merge_rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, cnt::BIGINT AS pair_count FROM best{i}"
        for i in range(BPE_N_MERGES)
    )
    return f"""
WITH words AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
),
v0 AS MATERIALIZED (
  SELECT w, freq,
         list_append(list_transform(generate_series(1, length(w)), x -> w[x]),
                     '</w>') AS s
  FROM words
),
{rounds.lstrip()}
SELECT * FROM (
{union}
) ORDER BY merge_rank
"""


BPE_MERGES_SQL = _bpe_merges_sql()


def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the BPE segmentation trained on it —
    train + encode as one query (``text.bpe_train(return_vocab=True)``
    → ``text.bpe_encode``).  Output is one row per INPUT document
    (wordless docs come back as ('', 0) — the ADVICE r06 contract):
    ``(doc_id, tokens_str, n_tokens)``, with the token sequence
    space-joined into a scalar so the driver's typed value-hash
    compares strings, not array cells (tokens cannot contain spaces —
    they descend from whitespace-split words).

    r07 unit-first debut (differential in tests/test_bpe.py), r08
    registry candidate.  The oracle replays all BPE_N_MERGES training
    rounds (the MATERIALIZED chain ``BPE_MERGES_SQL`` documents), then
    joins each word position against the final vocab with the
    character-fallback for OOV — OOV is impossible here (same corpus)
    but the fallback keeps the expression total."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    _, vocab = text.bpe_train(
        docs, n_merges=BPE_N_MERGES, return_vocab=True
    )
    enc = text.bpe_encode(docs, vocab)
    return enc.select(
        "doc_id",
        F.array_join("tokens", " ").alias("tokens_str"),
        "n_tokens",
    )


def _bpe_encode_sql() -> str:
    rounds = ",".join(_bpe_iter_block(i) for i in range(BPE_N_MERGES))
    return f"""
WITH words AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
),
v0 AS MATERIALIZED (
  SELECT w, freq,
         list_append(list_transform(generate_series(1, length(w)), x -> w[x]),
                     '</w>') AS s
  FROM words
),
{rounds.lstrip()},
tokpos AS MATERIALIZED (
  SELECT doc_id, j AS wpos, toks[j] AS w
  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
        FROM documents) d,
       unnest(generate_series(1, len(toks))) AS t(j)
  WHERE toks[j] <> ''
),
enc AS (
  SELECT tp.doc_id,
         flatten(list(coalesce(v.s,
           list_append(list_transform(generate_series(1, length(tp.w)),
                                      x -> tp.w[x]), '</w>'))
           ORDER BY tp.wpos)) AS tokens
  FROM tokpos tp LEFT JOIN v{BPE_N_MERGES} v ON v.w = tp.w
  GROUP BY tp.doc_id
)
SELECT d.doc_id,
       coalesce(array_to_string(e.tokens, ' '), '') AS tokens_str,
       coalesce(len(e.tokens), 0)::BIGINT AS n_tokens
FROM documents d LEFT JOIN enc e ON e.doc_id = d.doc_id
"""


BPE_ENCODE_SQL = _bpe_encode_sql()


# --- Training-corpus capstone lineage report (r08 driver row) ----------------


def training_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end capstone as an oracle-checked query (VERDICT r07
    ask #6): ``corpus.prepare_training_corpus`` chains quality gate →
    cross-document span dedup → exact dedup → deterministic split →
    sequence packing, and this spec returns its lineage report — the
    per-stage survivor counts plus the packed-train shape (distinct
    bins and total tokens) — so the whole composition, not just its
    stages in isolation, is driver-verified.  Five stages compose;
    every count is deterministic (hash-keyed split, md5 fingerprints,
    global-first span ranking), so the DuckDB twin reproduces the row
    bit-exactly."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    packed, report = corpus.prepare_training_corpus(
        docs, span_window=SPAN_WINDOW, token_budget=PACK_TOKEN_BUDGET
    )
    extras = packed.agg(
        F.countDistinct("source", "shard", "bin_id").alias("n_packed_bins"),
        F.coalesce(F.sum("n_tokens"), F.lit(0))
        .cast("long")
        .alias("train_tokens"),
    )
    return report.crossJoin(F.broadcast(extras))


def _training_corpus_report_sql() -> str:
    """DuckDB twin of the capstone chain.  Stage CTEs reuse the proven
    building blocks verbatim: the funnel rules
    (``_funnel_rule_conditions``, green via corpus_quality_funnel),
    the span chunk/rank/rebuild shape (green via corpus_span_dedup),
    the normalized-md5 exact fingerprint (green via
    dedup_exact_documents), the md5-nibble split (green via the split
    suite), and the (source, shard) packing window (green via
    corpus_pack_sequences)."""
    rules = _funnel_rule_conditions()
    keep = " AND ".join(f"NOT ({cond})" for cond in rules.values())
    g2 = sql_shingles("string_split(text, ' ')", 2)
    w = SPAN_WINDOW
    return f"""
WITH toked AS (
  SELECT doc_id, source, text,
         len(string_split(text, ' ')) AS ntoks,
         list_distinct(string_split(text, ' ')) AS dtoks,
         {g2} AS g2
  FROM documents
),
quality AS (
  SELECT doc_id, source, text FROM toked WHERE {keep}
),
qtok AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), tk -> tk <> '') AS tok
  FROM quality
),
spans AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(tok[i * {w} + 1 : i * {w} + {w}], ' ') AS span_text
  FROM qtok, unnest(range(CAST(ceil(len(tok) / {w}.0) AS INT))) AS r(i)
),
ranked AS (
  SELECT doc_id, span_idx, span_text,
         row_number() OVER (PARTITION BY span_text
                            ORDER BY doc_id, span_idx) = 1 AS keep
  FROM spans
),
rebuilt AS (
  SELECT doc_id,
         string_agg(CASE WHEN keep THEN span_text END, ' '
                    ORDER BY span_idx) AS text_clean
  FROM ranked GROUP BY doc_id
),
survivors AS (
  SELECT q.doc_id, q.source, r.text_clean
  FROM quality q JOIN rebuilt r ON r.doc_id = q.doc_id
  WHERE r.text_clean IS NOT NULL AND r.text_clean <> ''
),
fp AS (
  SELECT doc_id, source, text_clean,
         md5(regexp_replace(trim(lower(text_clean)), '\\s+', ' ', 'g'))
           AS fingerprint
  FROM survivors
),
kept AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fingerprint),
uniq AS (SELECT f.* FROM fp f JOIN kept k ON k.doc_id = f.doc_id),
train AS (
  SELECT * FROM uniq WHERE substr(md5(doc_id::VARCHAR), 1, 1) < 'd'
),
packed AS (
  SELECT doc_id, source,
         md5(doc_id::VARCHAR) AS hash_key,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 1))::INT AS shard,
         len(string_split(text_clean, ' '))::BIGINT AS n_tokens
  FROM train
),
bins AS (
  SELECT source, shard, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source, shard
                                         ORDER BY hash_key
                                         ROWS UNBOUNDED PRECEDING)
                     - n_tokens)::DOUBLE / {PACK_TOKEN_BUDGET}) AS BIGINT)
           AS bin_id
  FROM packed
)
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_input,
       (SELECT count(*) FROM quality)::BIGINT AS n_quality,
       (SELECT count(*) FROM survivors)::BIGINT AS n_span_dedup,
       (SELECT count(*) FROM uniq)::BIGINT AS n_exact_dedup,
       (SELECT count(*) FROM train)::BIGINT AS n_train,
       (SELECT count(*) FROM
          (SELECT DISTINCT source, shard, bin_id FROM bins))::BIGINT
         AS n_packed_bins,
       (SELECT coalesce(sum(n_tokens), 0) FROM bins)::BIGINT AS train_tokens
"""


TRAINING_CORPUS_REPORT_SQL = _training_corpus_report_sql()


# --- Export suite: token-budget capping + seeded shuffle-shard (r09
# --- registry candidate, unit-first per the r08 window arithmetic) ----------

EXPORT_TOKEN_BUDGET = 700   # ~half of each sf0.01 source's ~1.3K tokens
EXPORT_N_SHARDS = 8
EXPORT_SEED = 42


def corpus_export_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two export-side steps a training run takes after the corpus
    is cleaned, under one padded suite shape (the split-suite
    convention): ``token_budget_sample`` — greedy hash-ordered prefix
    fill of EXPORT_TOKEN_BUDGET tokens per source (the token-costed
    sibling of ``domain_mix_sample``'s doc-count balancing, exact
    global cumsum via per-shard offsets, no global sort) — and
    ``shuffle_shard`` — the seeded deterministic epoch shuffle dealing
    every doc a shard and an in-shard position (rand()-free, per-shard
    windows only).  Reference analogue: the split/load surface of
    transform.py + db_loader.py generalized to training-export
    semantics; numeric pads cast double on both engines."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    nd = F.lit(None).cast("double")
    budget = corpus.token_budget_sample(docs, EXPORT_TOKEN_BUDGET).select(
        F.lit("budget").alias("variant"),
        "doc_id",
        "source",
        "shard",
        F.col("hash_key").alias("key"),
        F.col("n_tokens").cast("double").alias("n_tokens"),
        F.col("cum_tokens").cast("double").alias("cum_tokens"),
        F.col("kept").cast("double").alias("kept"),
        nd.alias("pos"),
    )
    shuf = corpus.shuffle_shard(docs, EXPORT_N_SHARDS, seed=EXPORT_SEED).select(
        F.lit("shuffle").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("source"),
        "shard",
        F.col("shuffle_key").alias("key"),
        nd.alias("n_tokens"),
        nd.alias("cum_tokens"),
        nd.alias("kept"),
        F.col("pos").cast("double").alias("pos"),
    )
    return budget.unionByName(shuf)


CORPUS_EXPORT_SUITE_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         md5(doc_id::VARCHAR) AS hash_key,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT *,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY hash_key
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
),
budget AS (
  SELECT 'budget' AS variant, doc_id, source,
         ('0x' || substr(hash_key, 1, 1))::INT AS shard,
         hash_key AS key,
         n_tokens::DOUBLE AS n_tokens,
         cum::DOUBLE AS cum_tokens,
         CASE WHEN cum <= {EXPORT_TOKEN_BUDGET} THEN 1.0 ELSE 0.0 END AS kept,
         NULL::DOUBLE AS pos
  FROM c
),
s AS (
  SELECT doc_id,
         md5('{EXPORT_SEED}:' || doc_id::VARCHAR) AS skey
  FROM documents
),
s2 AS (
  SELECT doc_id, skey,
         CAST(('0x' || substr(skey, 1, 8))::BIGINT % {EXPORT_N_SHARDS} AS INT)
           AS shard
  FROM s
),
shuf AS (
  SELECT 'shuffle' AS variant, doc_id, NULL::VARCHAR AS source, shard,
         skey AS key, NULL::DOUBLE AS n_tokens, NULL::DOUBLE AS cum_tokens,
         NULL::DOUBLE AS kept,
         (row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
          - 1)::DOUBLE AS pos
  FROM s2
)
SELECT * FROM budget UNION ALL SELECT * FROM shuf
"""


# --- Mix suite: uniform + temperature domain rebalancing (r10 registry
# --- candidate — the consolidation that retires corpus_domain_mix) ----------

MIX_ALPHA = 0.5


def corpus_mix_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The domain-mixing family under one suite shape: the uniform
    target (``domain_mix_sample`` — exactly ``temperature_mix_sample``
    at alpha = 0, kept as its own variant so the retiring spec's every
    output cell carries through) UNION the temperature rule at
    alpha = 0.5 (target share ∝ sqrt(n_s); the sqrt/decimal-sum path
    is IEEE-exact per term, see the operator docstring).  Identical
    column sets — no pads, just the variant tag.

    The uniform variant mixes the FULL corpus — the retiring spec's
    every output cell carries verbatim, the consolidation contract.
    The temperature variant mixes the ``doc_id % 3 != 0`` subset:
    the synthetic corpus assigns sources perfectly evenly (every
    source exactly n/20 docs), which would pin every rate at the
    capped 1.0 and leave the threshold compare untested — the filter
    skews counts to 16/17-ish per source so sub-1.0 rates and
    dropped rows actually occur (both kept values asserted in the
    unit differential)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    skewed = docs.where(F.col("doc_id") % 3 != 0)
    uniform = corpus.domain_mix_sample(docs).select(
        F.lit("uniform").alias("variant"),
        "doc_id",
        "source",
        "hash_frac",
        "rate",
        "kept",
    )
    temp = corpus.temperature_mix_sample(skewed, alpha=MIX_ALPHA).select(
        F.lit("temperature").alias("variant"),
        "doc_id",
        "source",
        "hash_frac",
        "rate",
        "kept",
    )
    return uniform.unionByName(temp)


CORPUS_MIX_SUITE_SQL = """
WITH mixdocs AS (
  SELECT * FROM documents WHERE doc_id % 3 != 0
),
ucounts AS (
  SELECT source, count(*) AS n_source FROM documents GROUP BY source
),
utot AS (
  SELECT CAST(sum(n_source) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM ucounts
),
urates AS (
  SELECT source,
         least(1.0, (n_total::DOUBLE / n_sources) / n_source) AS rate
  FROM ucounts CROSS JOIN utot
),
counts AS (
  SELECT source, count(*) AS n_source FROM mixdocs GROUP BY source
),
terms AS (
  SELECT source, n_source, {term} AS term FROM counts
),
ttot AS (
  SELECT sum(CAST(term AS DECIMAL(28,8))) AS S,
         CAST(sum(n_source) AS BIGINT) AS n_total
  FROM terms
),
trates AS (
  SELECT source,
         least(1.0, ((n_total::DOUBLE * term) / S::DOUBLE)
                    / n_source::DOUBLE) AS rate
  FROM terms CROSS JOIN ttot
),
ud AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE
           / 4294967296.0 AS hash_frac
  FROM documents
),
d AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE
           / 4294967296.0 AS hash_frac
  FROM mixdocs
)
SELECT 'uniform' AS variant, ud.doc_id, ud.source,
       {uhf} AS hash_frac, {ur} AS rate,
       ud.hash_frac < urates.rate AS kept
FROM ud JOIN urates USING (source)
UNION ALL
SELECT 'temperature', d.doc_id, d.source,
       {hf} AS hash_frac, {tr} AS rate,
       d.hash_frac < trates.rate AS kept
FROM d JOIN trates USING (source)
""".format(
    term=sql_exact_round("sqrt(n_source::DOUBLE)", 8),
    hf=sql_exact_round("d.hash_frac", 8),
    uhf=sql_exact_round("ud.hash_frac", 8),
    ur=sql_exact_round("urates.rate", 8),
    tr=sql_exact_round("trates.rate", 8),
)


def __getattr__(name: str):
    """Lazy cross-module SQL (see the CORPUS_DECON_SUITE_SQL note):
    resolved on first access, after both plan modules finish init."""
    if name == "CORPUS_DECON_SUITE_SQL":
        return _corpus_decon_suite_sql()
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


# --- Chi-square independence (language × source) -----------------------------

# χ²(0.95, dof = (5−1)·(20−1) = 76) ≈ 97.35 (Wilson–Hilferty); the
# verdict cell asks "does language depend on source at α = 0.05".
CHI2_CRITICAL = 97.35


def lang_source_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence test, language × source (pre-built
    r13; ``operators/corpus.py:chi_square_independence``): a crawl
    whose languages skew by source needs per-source language budgets,
    not one global mix — this is the one-row statistical answer.  One
    fused hash-agg collapses the corpus to the 5×20 contingency
    table (zero cells densified — they still contribute e to the
    statistic); margins and the statistic are window arithmetic over
    that bounded frame."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return corpus.chi_square_independence(
        docs, "lang", "source", critical=CHI2_CRITICAL
    )


LANG_SOURCE_CHI2_SQL = f"""
WITH obs AS (
  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source
),
grid AS (
  SELECT la.a, lb.b, coalesce(obs.o, CAST(0 AS BIGINT)) AS o
  FROM (SELECT DISTINCT a FROM obs) la
  CROSS JOIN (SELECT DISTINCT b FROM obs) lb
  LEFT JOIN obs ON obs.a = la.a AND obs.b = lb.b
),
m AS (
  SELECT a, b, o,
         sum(o) OVER (PARTITION BY a) AS ra,
         sum(o) OVER (PARTITION BY b) AS cb,
         sum(o) OVER () AS n
  FROM grid
),
t AS (
  SELECT a, b, n,
         {sql_exact_round(
             "(CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)"
             " / CAST(n AS DOUBLE))"
             " * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)"
             " / CAST(n AS DOUBLE))"
             " / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))", 9)}
           AS term
  FROM m
)
SELECT cast(sum(cast(term AS DECIMAL(28,9))) AS DOUBLE) AS chi2,
       CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT)
         AS dof,
       CAST(max(n) AS BIGINT) AS n,
       cast(sum(cast(term AS DECIMAL(28,9))) AS DOUBLE) > {CHI2_CRITICAL}
         AS verdict
FROM t
"""
