"""Oracle-checked entries for the training-data-pipeline operators
(dedup / text analysis / similarity search) over documents/embeddings.

The MinHash oracle mirrors the engine's construction exactly: the
hash family is lexicographic-min of md5('<seed>:'||shingle) hex
strings, which is engine-portable (md5 hex is identical everywhere),
so signatures, band buckets, candidate pairs, and verified Jaccards
all match bitwise.  Cosine scores match bitwise because both sides
use a strict left-fold sum (Spark aggregate(0.0, +) ≡ DuckDB
list_reduce).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions import sql_exact_round
from ..operators import dedup, similarity, text
from ..operators.dedup import sql_shingles

# --- Exact dedup ------------------------------------------------------------


def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dedup.exact_duplicates(docs)


DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS kept_id,
       count(*)    AS n_copies
FROM documents
GROUP BY 1
"""

# --- MinHash + LSH near-dedup ----------------------------------------------

NUM_HASHES, BANDS, SHINGLE_K, THRESHOLD = 16, 8, 3, 0.6


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dedup.minhash_lsh_dedup(
        docs,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=THRESHOLD,
    )


def minhash_sig_ctes() -> str:
    """CTE chain ending in ``sig(doc_id, mh0..mh15)`` — the DuckDB
    twin of ``minhash_signature``'s Kirsch-Mitzenmacher family (one
    md5 per shingle → two 60-bit hex ints → (h1 + i*h2) mod P).
    Factored out so the within-corpus pair oracle and the incremental
    index-screen oracle share one source of truth for the signature
    arithmetic."""
    p = 2_147_483_647  # dedup.MINHASH_PRIME
    mins = ",\n         ".join(
        f"min((h1 + {i} * h2) % {p}) AS mh{i}" for i in range(NUM_HASHES)
    )
    return f"""
tok AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
sh AS (SELECT doc_id, unnest({sql_shingles('tok', SHINGLE_K)}) AS shingle
       FROM tok),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {p} AS h1,
         ('0x' || substr(md5(shingle), 17, 15))::BIGINT % {p} AS h2
  FROM sh
),
sig AS (SELECT doc_id,
         {mins}
        FROM hashed GROUP BY doc_id)"""


def minhash_band_union_sql(src: str) -> str:
    """UNION ALL of per-band (doc_id, band, bucket) selects over a
    signature relation ``src`` — the SQL twin of ``dedup._bands_of``
    (r = NUM_HASHES // BANDS consecutive minhashes per band, joined
    '|' as the bucket key)."""
    r = NUM_HASHES // BANDS
    return "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bucket FROM {src}".format(
            b=b,
            src=src,
            key=" || '|' || ".join(
                f"cast(mh{b * r + j} as varchar)" for j in range(r)
            ),
        )
        for b in range(BANDS)
    )


def minhash_pipeline_ctes(threshold: float = THRESHOLD) -> str:
    """CTE body mirroring minhash_signature's Kirsch-Mitzenmacher
    family exactly (one md5 per shingle → two 60-bit hex ints →
    (h1 + i*h2) mod P), ending in a `verified(id_a, id_b, jaccard)`
    CTE.  Shared by the pair query and the cluster query's recursive
    oracle; ``threshold`` defaults to the registered verify cut (the
    threshold-sweep spec passes its loosest value instead)."""
    return f"""{minhash_sig_ctes()},
bands AS (
  {minhash_band_union_sql('sig')}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
shl AS (SELECT doc_id, {sql_shingles('tok', SHINGLE_K)} AS ws FROM tok),
verified AS (
  SELECT id_a, id_b,
         len(list_intersect(a.ws, b.ws))::DOUBLE /
         (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jaccard
  FROM cand
  JOIN shl a ON cand.id_a = a.doc_id
  JOIN shl b ON cand.id_b = b.doc_id
  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
        (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= {threshold}
)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dedup.ngram_jaccard_pairs(
        docs, shingle_k=SHINGLE_K, threshold=THRESHOLD
    )


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
shl AS (SELECT doc_id, {sql_shingles('tok', SHINGLE_K)} AS ws FROM tok)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.ws, b.ws))::DOUBLE /
       (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jaccard
FROM shl a JOIN shl b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
      (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= {THRESHOLD}
"""


def _simhash_oracle_sql(bits: int = 64, shingle_k: int = 2) -> str:
    """Generate the DuckDB twin of ``operators.dedup.simhash``:
    same shingles, same md5 nibble bits, same +1/-1 votes, same
    little-endian assembly (bit 63 = sign bit → -(2^63))."""
    nibs = ",\n       ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) AS nib{i}"
        for i in range(bits // 4)
    )
    votes = ",\n       ".join(
        f"sum(CASE WHEN (nib{j // 4} >> {j % 4}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" AS v{j}"
        for j in range(bits)
    )
    terms = [
        f"(CASE WHEN v{j} > 0 THEN CAST(1 AS BIGINT) << {j} ELSE 0 END)"
        for j in range(bits - 1)
    ]
    terms.append(
        f"(CASE WHEN v{bits - 1} > 0"
        " THEN CAST(-9223372036854775807 AS BIGINT) - 1 ELSE 0 END)"
    )
    assembly = "\n         + ".join(terms)
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS tok FROM documents
),
sh AS (
  SELECT doc_id, unnest({sql_shingles("tok", shingle_k)}) AS shingle FROM tok
),
hx AS (SELECT doc_id, md5(shingle) AS h FROM sh),
nb AS (
  SELECT doc_id,
       {nibs}
  FROM hx
),
v AS (
  SELECT doc_id,
       {votes}
  FROM nb GROUP BY doc_id
)
SELECT doc_id,
       CAST({assembly} AS BIGINT) AS simhash
FROM v
"""


DEDUP_SIMHASH_SQL = _simhash_oracle_sql()


def dedup_simhash_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-variants consolidation (r08, the r09-earmarked trade
    pulled forward to fund the capstone's driver row): the signature
    table and the hamming-banded near-dup pairs union under one
    padded shape — one hamming family, one spec, every original output
    cell preserved.
    The 64-bit signature rides as a DECIMAL STRING pad column so the
    comparison stays bit-exact (a double pad would round past the
    53-bit mantissa); every other numeric pad follows the suite
    convention and casts to double.  Bench baseline at registration =
    the parts' sum via bench.py RENAMED_FROM."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sig = dedup.simhash(docs)
    pairs = dedup.simhash_near_pairs(sig, max_hamming=3)
    nd = F.lit(None).cast("double")
    ns = F.lit(None).cast("string")
    s = sig.select(
        F.lit("signature").alias("variant"),
        F.col("doc_id").cast("double").alias("doc_id"),
        F.col("simhash").cast("string").alias("simhash_str"),
        nd.alias("id_a"),
        nd.alias("id_b"),
        nd.alias("hamming"),
    )
    p = pairs.select(
        F.lit("pair").alias("variant"),
        nd.alias("doc_id"),
        ns.alias("simhash_str"),
        F.col("id_a").cast("double").alias("id_a"),
        F.col("id_b").cast("double").alias("id_b"),
        F.col("hamming").cast("double").alias("hamming"),
    )
    return s.unionByName(p)


DEDUP_SIMHASH_SUITE_SQL = f"""
WITH sig AS ({DEDUP_SIMHASH_SQL})
SELECT 'signature' AS variant, CAST(doc_id AS DOUBLE) AS doc_id,
       CAST(simhash AS VARCHAR) AS simhash_str,
       CAST(NULL AS DOUBLE) AS id_a, CAST(NULL AS DOUBLE) AS id_b,
       CAST(NULL AS DOUBLE) AS hamming
FROM sig
UNION ALL
SELECT 'pair', CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
       CAST(a.doc_id AS DOUBLE), CAST(b.doc_id AS DOUBLE),
       CAST(bit_count(xor(a.simhash, b.simhash)) AS DOUBLE)
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# --- Text analysis ----------------------------------------------------------


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return text.token_stats(docs)


TEXT_TOKEN_STATS_SQL = """
SELECT doc_id,
       length(text) AS n_chars,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       ceil(length(text) / 4.0)::BIGINT AS n_bpe_est,
       {avg_tok} AS avg_token_len
FROM documents
""".format(
    avg_tok=sql_exact_round(
        "(length(text) - len(string_split(text, ' ')) + 1)"
        " / len(string_split(text, ' '))",
        4,
    )
)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return text.quality_score(docs)


_EN_STOP_SQL = "['" + "','".join(text.STOPWORDS["en"]) + "']"

# The tokenized-documents subselect and the rounded quality-score
# expression (over its dtoks/ntoks/text/n_chars columns) are shared
# with the cluster-representatives oracle (corpus_queries).
QUALITY_T_SUBSELECT = """SELECT doc_id, text, n_chars,
         list_distinct(string_split(text, ' ')) AS dtoks,
         len(string_split(text, ' ')) AS ntoks
  FROM documents"""

QUALITY_SCORE_EXPR = sql_exact_round(
    "0.25 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000"
    "            THEN 1.0 ELSE 0.5 END)"
    " + 0.25 * least(len(list_intersect(dtoks, " + _EN_STOP_SQL + ")) / 3.0, 1.0)"
    " + 0.25 * (len(dtoks) / ntoks)"
    " + 0.25 * (length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))"
    "            / greatest(length(text), 1))",
    4,
)

TEXT_QUALITY_SQL = f"""
WITH t AS (
  {QUALITY_T_SUBSELECT}
)
SELECT doc_id,
       len(dtoks) AS n_distinct_tokens,
       {sql_exact_round('len(dtoks) / ntoks', 4)} AS type_token_ratio,
       len(list_intersect(dtoks, {_EN_STOP_SQL})) AS stopword_hits,
       {sql_exact_round(
           "length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))"
           " / greatest(length(text), 1)", 4)} AS alpha_ratio,
       {QUALITY_SCORE_EXPR} AS quality_score
FROM t
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return text.lang_id(docs)


def _lang_id_sql() -> str:
    hits = {
        code: (
            "len(list_intersect(list_distinct(string_split(text, ' ')), ['"
            + "','".join(text.STOPWORDS[code])
            + "']))"
        )
        for code in sorted(text.STOPWORDS)
    }
    mx = "greatest(" + ", ".join(hits.values()) + ")"
    cases = " ".join(
        f"WHEN {hits[code]} = mx THEN '{code}'" for code in sorted(text.STOPWORDS)
    )
    return f"""
WITH t AS (SELECT doc_id, lang, text, {mx} AS mx FROM documents)
SELECT doc_id, lang AS labeled_lang, mx AS best_hits,
       CASE WHEN mx > 0 THEN (CASE {cases} END) ELSE 'unknown' END AS detected_lang
FROM t
"""


TEXT_LANG_ID_SQL = _lang_id_sql()


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return text.fingerprint(docs)


TEXT_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,
       length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS n_chars_norm
FROM documents
"""


def text_analysis_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-variants consolidation of the four per-document
    text-analysis legs (r07, third application of the
    plans/queries.py "WINDOW OVERFLOW" remedy): token_stats /
    quality / lang_id / fingerprint union into ONE spec — one
    operator family (per-row JVM expression maps over ``documents``,
    zero shuffles, zero UDFs), one NULL-padded output shape keyed by
    ``(variant, doc_id)``.  Every original output cell is preserved.

    Numeric cells are cast to double on BOTH engines: the padding
    NULLs would make pandas upcast nullable int columns to float64
    anyway, so pinning double explicitly keeps the driver's TYPED
    value-hash deterministic (int→double is exact for these counts,
    and the exact_round decimals convert to the same nearest double
    in both engines).  The four underlying builders stay importable;
    per-leg plan shape is unchanged under the union.  Bench baseline
    = the parts' sum via bench.py RENAMED_FROM (the r02 merge
    mechanism, applied to suites in r06)."""
    nd = F.lit(None).cast("double")
    ns = F.lit(None).cast("string")

    def dbl(c: str):
        return F.col(c).cast("double").alias(c)

    ts = text_token_stats(spark, sf_dir).select(
        F.lit("token_stats").alias("variant"),
        "doc_id",
        dbl("n_chars"),
        dbl("n_tokens"),
        dbl("n_distinct_tokens"),
        dbl("n_bpe_est"),
        dbl("avg_token_len"),
        nd.alias("type_token_ratio"),
        nd.alias("stopword_hits"),
        nd.alias("alpha_ratio"),
        nd.alias("quality_score"),
        ns.alias("labeled_lang"),
        nd.alias("best_hits"),
        ns.alias("detected_lang"),
        ns.alias("fingerprint"),
        nd.alias("n_chars_norm"),
    )
    q = text_quality(spark, sf_dir).select(
        F.lit("quality").alias("variant"),
        "doc_id",
        nd.alias("n_chars"),
        nd.alias("n_tokens"),
        dbl("n_distinct_tokens"),
        nd.alias("n_bpe_est"),
        nd.alias("avg_token_len"),
        dbl("type_token_ratio"),
        dbl("stopword_hits"),
        dbl("alpha_ratio"),
        dbl("quality_score"),
        ns.alias("labeled_lang"),
        nd.alias("best_hits"),
        ns.alias("detected_lang"),
        ns.alias("fingerprint"),
        nd.alias("n_chars_norm"),
    )
    li = text_lang_id(spark, sf_dir).select(
        F.lit("lang_id").alias("variant"),
        "doc_id",
        nd.alias("n_chars"),
        nd.alias("n_tokens"),
        nd.alias("n_distinct_tokens"),
        nd.alias("n_bpe_est"),
        nd.alias("avg_token_len"),
        nd.alias("type_token_ratio"),
        nd.alias("stopword_hits"),
        nd.alias("alpha_ratio"),
        nd.alias("quality_score"),
        F.col("labeled_lang"),
        dbl("best_hits"),
        F.col("detected_lang"),
        ns.alias("fingerprint"),
        nd.alias("n_chars_norm"),
    )
    fp = text_fingerprint(spark, sf_dir).select(
        F.lit("fingerprint").alias("variant"),
        "doc_id",
        nd.alias("n_chars"),
        nd.alias("n_tokens"),
        nd.alias("n_distinct_tokens"),
        nd.alias("n_bpe_est"),
        nd.alias("avg_token_len"),
        nd.alias("type_token_ratio"),
        nd.alias("stopword_hits"),
        nd.alias("alpha_ratio"),
        nd.alias("quality_score"),
        ns.alias("labeled_lang"),
        nd.alias("best_hits"),
        ns.alias("detected_lang"),
        F.col("fingerprint"),
        dbl("n_chars_norm"),
    )
    return ts.unionByName(q).unionByName(li).unionByName(fp)


def _text_suite_leg_sql(variant: str, src: str, cols: dict[str, str]) -> str:
    """One UNION ALL leg: present columns cast to double (or passed
    through for strings), absent columns NULL-padded with the same
    type — mirroring the Spark side exactly."""
    schema = [
        ("n_chars", "num"),
        ("n_tokens", "num"),
        ("n_distinct_tokens", "num"),
        ("n_bpe_est", "num"),
        ("avg_token_len", "num"),
        ("type_token_ratio", "num"),
        ("stopword_hits", "num"),
        ("alpha_ratio", "num"),
        ("quality_score", "num"),
        ("labeled_lang", "str"),
        ("best_hits", "num"),
        ("detected_lang", "str"),
        ("fingerprint", "str"),
        ("n_chars_norm", "num"),
    ]
    parts = []
    for name, kind in schema:
        if name in cols:
            expr = cols[name]
            if kind == "num":
                expr = f"CAST({expr} AS DOUBLE)"
        else:
            expr = f"CAST(NULL AS {'DOUBLE' if kind == 'num' else 'VARCHAR'})"
        parts.append(f"{expr} AS {name}")
    return (
        f"SELECT '{variant}' AS variant, doc_id, "
        + ", ".join(parts)
        + f" FROM {src}"
    )


TEXT_ANALYSIS_SUITE_SQL = f"""
WITH ts AS ({TEXT_TOKEN_STATS_SQL}),
q AS ({TEXT_QUALITY_SQL}),
li AS ({TEXT_LANG_ID_SQL}),
fp AS ({TEXT_FINGERPRINT_SQL})
{_text_suite_leg_sql('token_stats', 'ts', {c: c for c in ('n_chars', 'n_tokens', 'n_distinct_tokens', 'n_bpe_est', 'avg_token_len')})}
UNION ALL
{_text_suite_leg_sql('quality', 'q', {c: c for c in ('n_distinct_tokens', 'type_token_ratio', 'stopword_hits', 'alpha_ratio', 'quality_score')})}
UNION ALL
{_text_suite_leg_sql('lang_id', 'li', {c: c for c in ('labeled_lang', 'best_hits', 'detected_lang')})}
UNION ALL
{_text_suite_leg_sql('fingerprint', 'fp', {c: c for c in ('fingerprint', 'n_chars_norm')})}
"""

# --- Embedding-cosine near-dedup -------------------------------------------

# 0.45 rather than a realistic near-dup 0.95: the synthetic embeddings
# are near-orthogonal random vectors (max pairwise cosine ≈0.51 at
# sf0.01), so a 0.95 threshold returned zero rows at every SF and the
# driver's hash check proved only that both engines agree on "empty".
# At 0.45 the query emits real pairs and the threshold comparison is
# exercised on both sides of the boundary (cosines are fold-sum
# bitwise-identical cross-engine, so the >= cannot disagree).
COSINE_DUP_THRESHOLD = 0.45


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vectors: pairs with cosine ≥ threshold.

    All-pairs at this corpus size (the exactness baseline); the scale
    path reuses the sign-bucket/IVF candidate generation
    (similarity.ann_sign_bucket_topk) with the same verify expression.
    Fold-sum cosines are bitwise engine-identical, so the ≥ filter
    can't disagree.  Input bounded (dedup.bounded_input) so the
    baseline cannot silently become a corpus-scale cross join."""
    from ..operators.similarity import cosine, with_norm

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    emb = dedup.bounded_input(
        emb, dedup.ALL_PAIRS_MAX_ROWS, "similarity.ann_sign_bucket_topk"
    )
    base = with_norm(emb)
    a = base.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = base.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("id_a", "id_b", "cosine")
    )


DEDUP_EMBEDDING_COSINE_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM e
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
                   (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
                  (x, y) -> x + y) / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
"""

# --- Similarity search ------------------------------------------------------

QUERY_IDS = list(range(10))
TOPK = 5
ANN_BITS = 8


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return similarity.brute_force_topk(emb, query_ids=QUERY_IDS, k=TOPK)


EMBEDDING_TOPK_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM e
),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n
      WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(list_zip(q.qv, c.v), p -> p[1] * p[2]),
                     (a, b) -> a + b) / (q.qnrm * c.nrm) AS cosine
  FROM q, n c WHERE q.query_id <> c.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {TOPK}
"""


def embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return similarity.ann_sign_bucket_topk(
        emb, query_ids=QUERY_IDS, k=TOPK, bits=ANN_BITS
    )


_BUCKET_SQL = " || ".join(
    f"(CASE WHEN v[{i + 1}] >= 0 THEN '1' ELSE '0' END)" for i in range(ANN_BITS)
)

EMBEDDING_ANN_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm,
         {_BUCKET_SQL} AS bucket
  FROM e
),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket FROM n
      WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
s AS (
  SELECT q.query_id, q.bucket, c.vec_id AS neighbor_id,
         list_reduce(list_transform(list_zip(q.qv, c.v), p -> p[1] * p[2]),
                     (a, b) -> a + b) / (q.qnrm * c.nrm) AS cosine
  FROM q JOIN n c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
)
SELECT query_id, bucket, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {TOPK}
"""


# --- Incremental-ingest dedup family (driver-proof of dedup.py:441-671) -----
#
# One synthetic two-batch ingest, derived deterministically from the
# documents table at ANY scale factor: batch 1 = doc_id % 10 < 5 seeds
# the index; batch 2 = doc_id % 10 >= 3 re-keyed (+OFFSET, "the same
# content arriving again under a new id") so 20% of the corpus is a
# genuine cross-batch re-ingest the screen must catch while the rest
# must pass.  The oracle replays the identical flow in plain SQL, so
# the driver hash proves both the screen decision AND the index
# arithmetic end-to-end — VERDICT r04 "What's missing" #1.

INC_B1_LT, INC_B2_GE, INC_OFFSET = 5, 3, 1_000_000


def _inc_batches(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    b1 = docs.where(F.col("doc_id") % 10 < INC_B1_LT)
    b2 = docs.where(F.col("doc_id") % 10 >= INC_B2_GE).withColumn(
        "doc_id", F.col("doc_id") + F.lit(INC_OFFSET)
    )
    return b1, b2


def incremental_exact_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact family: batch 1 builds the digest index, batch 2 dedups
    against it through the bloom prune-right path (the bloom is built
    from the BATCH and pre-prunes the index leg — ADVICE r04), and the
    query returns the ACCRUED index after both batches.  Every row is
    load-bearing: idx1 rows prove batch-1 digesting, delta2 rows prove
    the anti-join screen admitted exactly the unseen contents, and the
    absent rows prove the re-ingested 20% was caught.  Result is
    invariant to the bloom routing (false positives only ever fall
    through to the exact anti join), which is what the oracle checks."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    b1, b2 = _inc_batches(docs)
    _, delta1 = dedup.incremental_exact_dedup(b1, None)
    _, delta2 = dedup.incremental_exact_dedup(
        b2, delta1, bloom_bits=1 << 20
    )
    return delta1.unionByName(delta2)


INCREMENTAL_EXACT_SQL = f"""
WITH d AS (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
),
idx1 AS (
  SELECT fp AS fingerprint, min(doc_id) AS kept_id, count(*) AS n_copies
  FROM d WHERE doc_id % 10 < {INC_B1_LT} GROUP BY fp
),
b2 AS (
  SELECT doc_id + {INC_OFFSET} AS doc_id, fp
  FROM d WHERE doc_id % 10 >= {INC_B2_GE}
),
b2_first AS (
  SELECT fp AS fingerprint, doc_id AS kept_id, n_copies FROM (
    SELECT fp, doc_id,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
           count(*)    OVER (PARTITION BY fp) AS n_copies
    FROM b2
  ) WHERE rn = 1
)
SELECT fingerprint, kept_id, n_copies FROM idx1
UNION ALL
SELECT fingerprint, kept_id, n_copies FROM b2_first b
WHERE NOT EXISTS (SELECT 1 FROM idx1 i WHERE i.fingerprint = b.fingerprint)
"""
# NOT EXISTS, not NOT IN: a NULL fingerprint (null text) makes
# `x NOT IN (...)` evaluate to NULL and silently drop the row, while
# Spark's left_anti KEEPS rows whose key matches nothing — NOT EXISTS
# replays the left_anti semantics exactly for every input.


def incremental_simhash_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash family: batch 2 screened against batch 1's fingerprint
    index at hamming <= 3.  The engine screens via pigeonhole banding
    (4 × 16-bit bands); the oracle runs the quadratic xor/bit_count
    scan over oracle-identical signatures — the banding is LOSSLESS
    for max_hamming < n_bands, so equality is exact by construction,
    and the hash row doubles as a driver proof of that loss-lessness.
    Returns the signature delta (the rows a production ingest would
    append to the index)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    b1, b2 = _inc_batches(docs)
    _, sig1 = dedup.incremental_simhash_dedup(b1, None)
    _, delta = dedup.incremental_simhash_dedup(b2, sig1, max_hamming=3)
    return delta


INCREMENTAL_SIMHASH_SQL = f"""
WITH sigs AS ({DEDUP_SIMHASH_SQL}),
idx AS (SELECT simhash FROM sigs WHERE doc_id % 10 < {INC_B1_LT}),
b2 AS (
  SELECT doc_id + {INC_OFFSET} AS doc_id, simhash
  FROM sigs WHERE doc_id % 10 >= {INC_B2_GE}
)
SELECT doc_id, simhash FROM b2 b
WHERE NOT EXISTS (
  SELECT 1 FROM idx i WHERE bit_count(xor(b.simhash, i.simhash)) <= 3
)
"""


def incremental_minhash_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash family: batch 2 screened against batch 1's SIGNATURE
    index — LSH band join for candidates, then the unbiased
    agreeing-minhash-fraction estimator (>= threshold ⇒ duplicate;
    the index holds signatures, not shingle sets, so estimated
    Jaccard is the correct verify).  The oracle replays banding AND
    the estimator over oracle-identical signatures, so the driver
    hash pins down the full screen including its banding recall
    contract.  Returns the signature delta.

    r06: the index leg now goes through the PERSISTED-BANDING fast
    path — ``bands_of(sig1)`` is handed to the screen as
    ``banded_index``, exactly what a production ingest loop persists
    next to the signature index to skip the per-batch O(index × bands)
    re-banding explode (VERDICT r05 ask #5).  Banding is a
    deterministic projection of the signatures, so the result — and
    this spec's oracle — is unchanged; the driver hash now pins the
    fast path's equivalence, not just the inline-banded plan."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    b1, b2 = _inc_batches(docs)
    _, sig1 = dedup.incremental_minhash_dedup(
        b1, None, num_hashes=NUM_HASHES, bands=BANDS, shingle_k=SHINGLE_K
    )
    banded = dedup.bands_of(
        sig1, num_hashes=NUM_HASHES, bands=BANDS
    )
    _, delta = dedup.incremental_minhash_dedup(
        b2,
        sig1,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=THRESHOLD,
        banded_index=banded,
    )
    return delta


def _incremental_minhash_sql() -> str:
    agree = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_HASHES)
    )
    mh_cols = ", ".join(f"mh{i}" for i in range(NUM_HASHES))
    return f"""
WITH {minhash_sig_ctes()},
idx AS (SELECT * FROM sig WHERE doc_id % 10 < {INC_B1_LT}),
b2 AS (
  SELECT doc_id + {INC_OFFSET} AS doc_id, {mh_cols}
  FROM sig WHERE doc_id % 10 >= {INC_B2_GE}
),
nb AS (
  {minhash_band_union_sql('b2')}
),
ib AS (
  {minhash_band_union_sql('idx')}
),
cand AS (
  SELECT DISTINCT nb.doc_id AS new_id, ib.doc_id AS idx_id
  FROM nb JOIN ib ON nb.band = ib.band AND nb.bucket = ib.bucket
),
dup AS (
  SELECT DISTINCT c.new_id
  FROM cand c
  JOIN b2  a ON c.new_id = a.doc_id
  JOIN idx b ON c.idx_id = b.doc_id
  WHERE ({agree})::DOUBLE / {NUM_HASHES} >= {THRESHOLD}
)
SELECT doc_id, {mh_cols} FROM b2
WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.new_id = b2.doc_id)
"""


INCREMENTAL_MINHASH_SQL = _incremental_minhash_sql()


def incremental_dedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-variants consolidation earmarked for r12 (pre-built
    unit-first in r08; rebuilt r11 on pre-banded indexes): the three
    SIGNATURE-family incremental-ingest specs —
    ``incremental_exact_fresh`` (digest index + bloom-pruned anti
    join), ``incremental_simhash_fresh`` (pigeonhole-banded hamming
    screen), ``incremental_minhash_fresh`` (persisted-banding LSH
    screen + agreeing-fraction verify) — under one padded shape,
    every original output cell preserved.  The three flows ran three
    separate ``documents`` scans and batch splits as separate specs;
    the suite caches the table once and derives all three index/delta
    chains from the shared frame (the semantic family keeps its own
    spec: it reads ``embeddings``, not ``documents``).  BOTH near-dup
    screens read PRE-BANDED persisted indexes (``bands_of`` /
    ``simhash_bands_of``), the layout a production ingest loop
    persists so the index side is never re-banded per batch.

    Each near-dup family computes its signatures ONCE over the shared
    frame and both batches filter from that cache (``new_sig=``; r11):
    signatures depend on text only, so the batch-2 id shift commutes
    with the hash, and the suite's own DuckDB oracle below is already
    written this way — one ``sig`` CTE, filtered per batch.  This is
    the replay/backfill shape; a live per-batch ingest loop keeps the
    default in-operator signature pass.

    Pad convention: ids/counts cast double; the 64-bit simhash and
    the 16-int minhash signature ride as EXACT DECIMAL STRINGS (the
    ``dedup_simhash_suite`` precedent — a double pad would round past
    the 53-bit mantissa).  Bench baseline at registration = the three
    parts' sum via bench.py RENAMED_FROM."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].cache()
    b1, b2 = _inc_batches(docs)
    _, ed1 = dedup.incremental_exact_dedup(b1, None)
    _, ed2 = dedup.incremental_exact_dedup(b2, ed1, bloom_bits=1 << 20)
    # one signature pass per family over the shared frame; batches
    # filter from the cache (_inc_batches works on any doc_id frame)
    ssig_b1, ssig_b2 = _inc_batches(
        dedup.simhash(docs, shingle_k=2).select("doc_id", "simhash").cache()
    )
    msig_b1, msig_b2 = _inc_batches(
        dedup.minhash_signature(
            docs, num_hashes=NUM_HASHES, shingle_k=SHINGLE_K
        ).cache()
    )
    _, ssig1 = dedup.incremental_simhash_dedup(b1, None, new_sig=ssig_b1)
    # Both near-dup screens take the PRE-BANDED index path (VERDICT
    # r10 task 4): what a production ingest loop persists is the
    # banded projection, not raw signatures, so the big index side is
    # never re-banded per batch.  Banding is a deterministic
    # projection, so the delta — and the suite's oracle — is
    # unchanged vs the inline-banded form (pinned bit-identical in
    # tests/test_incremental_suite.py).
    sbanded = dedup.simhash_bands_of(ssig1)
    _, sdelta = dedup.incremental_simhash_dedup(
        b2, None, max_hamming=3, banded_index=sbanded, new_sig=ssig_b2
    )
    _, msig1 = dedup.incremental_minhash_dedup(
        b1, None, num_hashes=NUM_HASHES, bands=BANDS, shingle_k=SHINGLE_K,
        new_sig=msig_b1,
    )
    banded = dedup.bands_of(msig1, num_hashes=NUM_HASHES, bands=BANDS)
    _, mdelta = dedup.incremental_minhash_dedup(
        b2,
        msig1,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=THRESHOLD,
        banded_index=banded,
        new_sig=msig_b2,
    )
    nd = F.lit(None).cast("double")
    ns = F.lit(None).cast("string")
    e = ed1.unionByName(ed2).select(
        F.lit("exact").alias("variant"),
        F.col("fingerprint"),
        F.col("kept_id").cast("double").alias("kept_id"),
        F.col("n_copies").cast("double").alias("n_copies"),
        nd.alias("doc_id"),
        ns.alias("signature"),
    )
    s = sdelta.select(
        F.lit("simhash").alias("variant"),
        ns.alias("fingerprint"),
        nd.alias("kept_id"),
        nd.alias("n_copies"),
        F.col("doc_id").cast("double").alias("doc_id"),
        F.col("simhash").cast("string").alias("signature"),
    )
    m = mdelta.select(
        F.lit("minhash").alias("variant"),
        ns.alias("fingerprint"),
        nd.alias("kept_id"),
        nd.alias("n_copies"),
        F.col("doc_id").cast("double").alias("doc_id"),
        F.concat_ws(
            "-", *[F.col(f"mh{i}").cast("string") for i in range(NUM_HASHES)]
        ).alias("signature"),
    )
    return e.unionByName(s).unionByName(m)


_MH_STR_SQL = " || '-' || ".join(
    f"CAST(mh{i} AS VARCHAR)" for i in range(NUM_HASHES)
)

INCREMENTAL_DEDUP_SUITE_SQL = f"""
SELECT 'exact' AS variant, fingerprint,
       CAST(kept_id AS DOUBLE) AS kept_id,
       CAST(n_copies AS DOUBLE) AS n_copies,
       CAST(NULL AS DOUBLE) AS doc_id,
       CAST(NULL AS VARCHAR) AS signature
FROM ({INCREMENTAL_EXACT_SQL})
UNION ALL
SELECT 'simhash', NULL, NULL, NULL, CAST(doc_id AS DOUBLE),
       CAST(simhash AS VARCHAR)
FROM ({INCREMENTAL_SIMHASH_SQL})
UNION ALL
SELECT 'minhash', NULL, NULL, NULL, CAST(doc_id AS DOUBLE),
       {_MH_STR_SQL}
FROM ({INCREMENTAL_MINHASH_SQL})
"""


# --- Cross-source contamination matrix (r13 pre-build) -----------------------
#
# Dataset forensics over the SAME verified near-dup pair mine the LSH
# dedup family already runs: label each pair with its two documents'
# sources (canonically ordered) and aggregate — which source pairs
# duplicate each other, how many times, how closely?  The curation
# question behind source weighting and crawl-overlap audits ("is srcX
# mostly a re-crawl of srcY?"), answered without any new pair mining:
# the matrix is ≤ |sources|² rows however large the corpus, and the
# max aggregate is order-independent so the score is cross-engine
# exact without rounding.


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan shape: the full LSH chain (shingles → signatures → banded
    buckets → verified pairs, never all-pairs), then the BOUNDED pair
    frame broadcasts into two (doc_id, source) lookups and one
    hash-agg over ≤ |sources|² keys."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dedup.minhash_lsh_dedup(
        docs,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=THRESHOLD,
    )
    srcs = docs.where(F.col("source").isNotNull()).select("doc_id", "source")
    labeled = (
        srcs.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("source", "__src_a")
        .join(F.broadcast(pairs), "id_a")
        .join(
            srcs.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "source", "__src_b"
            ),
            "id_b",
        )
        .select(
            F.least("__src_a", "__src_b").alias("source_a"),
            F.greatest("__src_a", "__src_b").alias("source_b"),
            "jaccard",
        )
    )
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .withColumn(
            "cross_source", F.col("source_a") != F.col("source_b")
        )
    )


SOURCE_OVERLAP_SQL = f"""
WITH {minhash_pipeline_ctes()},
srcs AS (SELECT doc_id, source FROM documents WHERE source IS NOT NULL),
labeled AS (
  SELECT least(sa.source, sb.source) AS source_a,
         greatest(sa.source, sb.source) AS source_b,
         v.jaccard
  FROM verified v
  JOIN srcs sa ON v.id_a = sa.doc_id
  JOIN srcs sb ON v.id_b = sb.doc_id
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
       max(jaccard) AS max_jaccard, source_a <> source_b AS cross_source
FROM labeled GROUP BY source_a, source_b
"""
