"""Iterative / vector / text-stat extensions.

dedup_clusters is the engine's iterative-algorithm showcase: connected
components of the near-dup pair graph via min-label propagation — a
driver-side loop of joins run to convergence (the standard Pregel-less
Spark pattern), proven against DuckDB's WITH RECURSIVE fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions import exact_round, sql_exact_round
from ..operators import dedup
from ..operators.dedup import sql_shingles
from .extended_queries import BANDS, NUM_HASHES, SHINGLE_K, THRESHOLD
from .extended_queries import minhash_pipeline_ctes


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-dup pairs: each duplicate doc →
    its cluster representative (min doc_id in the component).

    Min-label propagation to fixpoint: labels start as own id; each
    iteration takes the min of own and neighbors' labels; stop when an
    iteration changes nothing.  Iterations = graph diameter (1 for
    isolated pairs, more for chains) — each is one join + one
    aggregate; at billion-edge scale you'd checkpoint per iteration to
    truncate lineage, semantics unchanged.

    Pairs come from the LSH pipeline (not the quadratic all-pairs
    scan), so the whole operator is corpus-scale-safe.  The fixpoint
    loop itself lives in ``operators/graph.py:connected_components``
    (extracted r07, behavior-identical — edge-list cached before
    looping, measured 32s → ~3s at sf0.01)."""
    from ..operators.graph import connected_components

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dedup.minhash_lsh_dedup(
        docs,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=THRESHOLD,
    )
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE
{minhash_pipeline_ctes()},
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT id_a AS id FROM verified UNION SELECT id_b FROM verified)
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION SELECT id_b, id_a FROM verified
),
reach(node, root) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node
"""


def minhash_cluster_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-variants consolidation earmarked for r13 (the docstring
    trade in plans/queries.py — pre-built unit-first in r08): the
    MinHash near-dup family's pair evidence and its connected-
    components clustering, one spec.  ``dedup_clusters`` re-ran the
    whole LSH miner (shingle → signature → bands → bucket join →
    Jaccard verify, ~2s at sf0.1) that ``dedup_minhash_lsh`` already
    runs; the suite mines ONCE, caches the verified pairs, and
    serves the 'pairs' variant verbatim plus the 'clusters' variant
    from the same cached frame (``connected_components`` caches its
    own edge projection on top, so the fixpoint never replays the
    miner either).  Numeric pads cast double; bench baseline at
    registration = the parts' sum via bench.py RENAMED_FROM."""
    from ..operators.graph import connected_components

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dedup.minhash_lsh_dedup(
        docs,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=THRESHOLD,
    ).cache()
    clusters = connected_components(pairs)
    nb = F.lit(None).cast("bigint")
    p = pairs.select(
        F.lit("pairs").alias("variant"),
        "id_a",
        "id_b",
        "jaccard",
        nb.alias("doc_id"),
        nb.alias("cluster_id"),
    )
    c = clusters.select(
        F.lit("clusters").alias("variant"),
        nb.alias("id_a"),
        nb.alias("id_b"),
        F.lit(None).cast("double").alias("jaccard"),
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
    )
    return p.unionByName(c)


MINHASH_CLUSTER_SUITE_SQL = f"""
WITH RECURSIVE
{minhash_pipeline_ctes()},
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT id_a AS id FROM verified UNION SELECT id_b FROM verified)
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION SELECT id_b, id_a FROM verified
),
reach(node, root) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
)
SELECT 'pairs' AS variant, id_a, id_b, jaccard,
       CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS cluster_id
FROM verified
UNION ALL
SELECT 'clusters', NULL, NULL, NULL, node, min(root)
FROM reach GROUP BY node
"""

def corpus_split_no_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (r07 unit-first debut, r08
    registry candidate): near-duplicate documents MUST land in the
    same split, or eval examples leak into training as near-copies —
    the standard contamination trap a per-document hash split
    (``corpus_split_sample``) cannot avoid.  The fix: key the split
    hash on the near-dup COMPONENT representative (min doc_id over
    the connected component of the LSH pair graph), so an entire
    duplicate cluster moves as one unit; singleton docs key on
    themselves and reproduce the plain split exactly.

    Plan: the LSH miner (corpus-scale-safe banding, no all-pairs) →
    ``connected_components`` fixpoint → left join the label back to
    the corpus (absent ⇒ own id) → the same md5-nibble split rule as
    ``split_assign``, applied to the representative.  Output:
    ``(doc_id, rep_id, split)``.  Invariant (pinned by unit test and
    by construction): for every mined pair, split(id_a) ==
    split(id_b)."""
    from ..operators.graph import connected_components

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dedup.minhash_lsh_dedup(
        docs,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=THRESHOLD,
    )
    comps = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("__rep")
    )
    rep = (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .withColumn(
            "rep_id", F.coalesce(F.col("__rep"), F.col("doc_id")).cast("long")
        )
    )
    nibble = F.substring(F.md5(F.col("rep_id").cast("string")), 1, 1)
    return rep.select(
        "doc_id",
        "rep_id",
        F.when(nibble < "d", "train")
        .when(nibble < "f", "val")
        .otherwise("test")
        .alias("split"),
    )


def _split_no_leakage_ctes() -> str:
    """The CTE chain (sans WITH RECURSIVE header) shared by the
    standalone oracle and the r08 ``corpus_split_suite`` oracle, which
    embeds it under its own WITH RECURSIVE."""
    return f"""{minhash_pipeline_ctes()},
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT id_a AS id FROM verified UNION SELECT id_b FROM verified)
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION SELECT id_b, id_a FROM verified
),
reach(node, root) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(root) AS rep FROM reach GROUP BY node),
split_keyed AS (
  SELECT d.doc_id, coalesce(c.rep, d.doc_id)::BIGINT AS rep_id,
         CASE WHEN substr(md5(coalesce(c.rep, d.doc_id)::VARCHAR), 1, 1) < 'd'
                THEN 'train'
              WHEN substr(md5(coalesce(c.rep, d.doc_id)::VARCHAR), 1, 1) < 'f'
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)"""


CORPUS_SPLIT_NO_LEAKAGE_SQL = f"""
WITH RECURSIVE
{_split_no_leakage_ctes()}
SELECT doc_id, rep_id, split FROM split_keyed
"""


def corpus_split_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-variants consolidation earmarked for r08 (pre-built and
    differential-proven in r07 so registration is a pure rotation
    move): the plain hash split + stratified sample
    (``corpus_split_sample``) and the leakage-safe rep-keyed split
    (``corpus_split_no_leakage``) union under one padded shape —
    one splitting family, one spec, every original output cell
    preserved.  Numeric pad columns cast to double on both engines
    (the text-suite convention: pandas upcasts nullable ints anyway,
    so pin it).  Bench baseline at registration = the parts' sum via
    bench.py RENAMED_FROM."""
    from . import corpus_queries as xc

    nd = F.lit(None).cast("double")
    ns = F.lit(None).cast("string")
    plain = xc.corpus_split_sample(spark, sf_dir).select(
        F.lit("plain").alias("variant"),
        "doc_id",
        "lang",
        "hash_key",
        "split",
        F.col("sample_rank").cast("double").alias("sample_rank"),
        F.col("in_sample").cast("double").alias("in_sample"),
        nd.alias("rep_id"),
    )
    leak = corpus_split_no_leakage(spark, sf_dir).select(
        F.lit("no_leakage").alias("variant"),
        "doc_id",
        ns.alias("lang"),
        ns.alias("hash_key"),
        "split",
        nd.alias("sample_rank"),
        nd.alias("in_sample"),
        F.col("rep_id").cast("double").alias("rep_id"),
    )
    return plain.unionByName(leak)


def _corpus_split_suite_sql() -> str:
    from . import corpus_queries as xc

    return f"""
WITH RECURSIVE
{_split_no_leakage_ctes()},
plain AS ({xc.CORPUS_SPLIT_SAMPLE_SQL})
SELECT 'plain' AS variant, doc_id, lang, hash_key, split,
       CAST(sample_rank AS DOUBLE) AS sample_rank,
       CAST(in_sample::INT AS DOUBLE) AS in_sample,
       CAST(NULL AS DOUBLE) AS rep_id
FROM plain
UNION ALL
SELECT 'no_leakage', doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       split, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(rep_id AS DOUBLE)
FROM split_keyed
"""


CORPUS_SPLIT_SUITE_SQL = _corpus_split_suite_sql()


# --- IVF centroid assignment (vector quantization) -------------------------

N_CENTROIDS = 8


def ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse quantization: every vector assigned to its nearest seed
    centroid (L2; seeds = first N vectors — deterministic, a k-means
    iteration would refine them with the same plan shape).  Broadcast
    centroids → map-side scoring, one row_number per vector."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return _ivf_assign_from(emb)


def _ivf_assign_from(emb: DataFrame) -> DataFrame:
    """ivf_assign's chain from an already-loaded embeddings frame, so
    ann_assign_suite can share one cached scan across both legs.
    Packed-quantizer argmin (r11, ``similarity._pack_rows``): the
    bounded centroid set rides as one broadcast array row and the
    nearest-cell pick is a per-row expression — map-only, no sort
    exchange; same (dist asc, cid asc) tie-break and fold doubles as
    the former row_number window, so the oracle pairing holds."""
    from ..functions import spread_scan
    from ..operators.similarity import (
        _as_double_vec,
        _nearest_packed,
        _pack_rows,
    )

    # per-row packed argmin runs in the one-effective-task scan stage
    # — spread an under-split scan first (guide §2.5; no-op at scale)
    vecs = spread_scan(
        emb.select("vec_id", _as_double_vec("embedding").alias("v"))
    )
    centroids = vecs.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    return (
        vecs.crossJoin(F.broadcast(_pack_rows(centroids, "centroid_id", "cv")))
        .withColumn(
            "__best",
            _nearest_packed(F.col("v"), F.col("__packed"), "centroid_id", "cv"),
        )
        .select(
            "vec_id",
            F.col("__best.id").alias("centroid_id"),
            F.col("__best.dist").alias("dist"),
        )
    )


IVF_ASSIGN_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {N_CENTROIDS}),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         list_reduce(list_transform(list_zip(e.v, c.cv),
                     p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
  FROM e, c
)
SELECT vec_id, centroid_id, dist FROM (
  SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rn
  FROM scored
) WHERE rn = 1
"""

# --- IVF probe-limited top-k search (completes the ANN scale path) ----------

IVF_NPROBE = 2
IVF_TOPK_K = 5
IVF_QUERY_IDS = list(range(10))


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-limited IVF search: corpus vectors bucketed into inverted
    lists by nearest seed centroid, each query scans only its nprobe
    nearest cells, exact cosine + per-query top-k within candidates.
    The third leg of the similarity stack — brute force (exact
    baseline), sign-bucket LSH, and now IVF with an explicit
    recall/nprobe knob.  See operators/similarity.ivf_topk for the
    scale analysis."""
    from ..operators.similarity import ivf_topk as _ivf

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return _ivf(
        emb,
        query_ids=IVF_QUERY_IDS,
        k=IVF_TOPK_K,
        n_centroids=N_CENTROIDS,
        nprobe=IVF_NPROBE,
    )


IVF_TOPK_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM e
),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM n WHERE vec_id < {N_CENTROIDS}),
scored AS (
  SELECT n.vec_id, n.v, n.nrm, c.centroid_id,
         list_reduce(list_transform(list_zip(n.v, c.cv),
                     p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
  FROM n, c
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS crn
  FROM scored
),
cells AS (
  SELECT vec_id AS neighbor_id, v AS cv2, nrm AS cnorm, centroid_id AS cell
  FROM ranked WHERE crn = 1
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qnorm, centroid_id AS cell
  FROM ranked
  WHERE crn <= {IVF_NPROBE}
    AND vec_id IN ({", ".join(map(str, IVF_QUERY_IDS))})
),
s AS (
  SELECT p.query_id, p.cell, t.neighbor_id,
         list_reduce(list_transform(list_zip(p.qv, t.cv2), z -> z[1] * z[2]),
                     (a, b) -> a + b) / nullif(p.qnorm * t.cnorm, 0) AS cosine
  FROM probes p JOIN cells t USING (cell)
  WHERE p.query_id <> t.neighbor_id
)
SELECT query_id, cell, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {IVF_TOPK_K}
"""


def embedding_retrieval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-variants consolidation of the three top-k retrieval legs
    (r06, second application of the plans/queries.py "WINDOW OVERFLOW"
    remedy): brute-force exact cosine (the baseline), sign-bucket LSH,
    and probe-limited IVF union into ONE spec — they are one operator
    family with one natural output shape (query, neighbor, cosine,
    rank), differing only in the locality structure that bounds the
    candidate set:

    * ``brute_force``: locality NULL — every candidate scored,
    * ``sign_bucket``: locality = the ANN_BITS sign bucket string,
    * ``ivf_probe``: locality = the probed cell id (as string).

    The three underlying builders stay importable; plan shape per
    variant is unchanged under the union (broadcast queries/centroids,
    per-query top-k windows).  Bench baseline = the parts' sum via
    RENAMED_FROM, same as ``tpch_join_suite``."""
    from . import extended_queries as xq

    nulls = F.lit(None).cast("string")
    brute = xq.embedding_topk(spark, sf_dir).select(
        F.lit("brute_force").alias("variant"),
        "query_id",
        nulls.alias("locality"),
        "neighbor_id",
        "cosine",
        "rank",
    )
    ann = xq.embedding_ann(spark, sf_dir).select(
        F.lit("sign_bucket").alias("variant"),
        "query_id",
        F.col("bucket").alias("locality"),
        "neighbor_id",
        "cosine",
        "rank",
    )
    ivf = ivf_topk(spark, sf_dir).select(
        F.lit("ivf_probe").alias("variant"),
        "query_id",
        F.col("cell").cast("string").alias("locality"),
        "neighbor_id",
        "cosine",
        "rank",
    )
    return brute.unionByName(ann).unionByName(ivf)


def _retrieval_suite_sql() -> str:
    from . import extended_queries as xq

    return f"""
WITH brute AS ({xq.EMBEDDING_TOPK_SQL}),
ann AS ({xq.EMBEDDING_ANN_SQL}),
ivf AS ({IVF_TOPK_SQL})
SELECT 'brute_force' AS variant, query_id, CAST(NULL AS VARCHAR) AS locality,
       neighbor_id, cosine, rank
FROM brute
UNION ALL
SELECT 'sign_bucket', query_id, bucket, neighbor_id, cosine, rank
FROM ann
UNION ALL
SELECT 'ivf_probe', query_id, cell::VARCHAR, neighbor_id, cosine, rank
FROM ivf
"""


EMBEDDING_RETRIEVAL_SUITE_SQL = _retrieval_suite_sql()


# --- One k-means (Lloyd) refinement over the IVF cells ----------------------


def kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration on the IVF seed centroids: assign → new
    centroids = per-dimension mean of assigned vectors → reassign.
    Output is each vector's cell before and after refinement.

    Everything distributes: assignment is packed-quantizer scored
    (r11, ``similarity._pack_rows`` — map-only per-row argmin, same
    tie-break and fold doubles as the former row_number window), the
    centroid update is a (cell, dim)-keyed aggregate over exploded
    components (decimal-exact per-dimension sums keep refined
    centroids — and therefore reassignments — engine-identical).
    Further iterations repeat the same two jobs."""
    from ..operators.similarity import (
        _as_double_vec,
        _nearest_packed,
        _pack_rows,
    )

    from ..functions import spread_scan

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # per-row packed argmin passes run in the one-effective-task scan
    # stage - spread an under-split scan first (guide 2.5; no-op at
    # scale); the centroid means are decimal-exact
    vecs = spread_scan(
        emb.select("vec_id", _as_double_vec("embedding").alias("v"))
    )

    def assign(vec_df: DataFrame, centroids: DataFrame, out: str) -> DataFrame:
        return (
            vec_df.crossJoin(
                F.broadcast(_pack_rows(centroids, "centroid_id", "cv"))
            )
            .withColumn(
                "__best",
                _nearest_packed(
                    F.col("v"), F.col("__packed"), "centroid_id", "cv"
                ),
            )
            .select("vec_id", "v", F.col("__best.id").alias(out))
        )

    seeds = vecs.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    # cached: the centroid update AND the final join both read it, and
    # the map-only packed assign has no exchange for ReusedExchange to
    # share (r11)
    assign0 = assign(vecs, seeds, "cell_round1").cache()

    dims = assign0.select(
        "cell_round1", F.posexplode(F.col("v")).alias("dim", "val")
    )
    refined = (
        dims.groupBy(F.col("cell_round1").alias("centroid_id"), "dim")
        .agg(
            (
                F.expr("cast(sum(cast(val as decimal(28,8))) as double)")
                / F.count(F.lit(1))
            ).alias("cval")
        )
        .groupBy("centroid_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                lambda s: s["cval"],
            ).alias("cv")
        )
    )
    assign1 = assign(vecs, refined, "cell_round2")
    return (
        assign0.select("vec_id", "cell_round1")
        .join(assign1.select("vec_id", "cell_round2"), "vec_id")
    )


# --- Multi-iteration k-means (the full iterative algorithm, oracle-checked) -

KMEANS_N_ITER = 3


def kmeans_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full Lloyd rounds (assign → decimal-exact centroid means →
    reassign …), returning each vector's final cell.  The decimal-exact
    per-dimension means keep every round's centroids — and therefore
    every round's assignments — bit-identical across engines, which is
    what lets an ITERATIVE algorithm pass the cell-exact oracle gate at
    n_iter deep, not just one step.

    Scale shape per round: packed broadcast centroids → map-only
    per-row argmin (r11, ``similarity._pack_rows`` — same tie-break
    and fold doubles as the former row_number window), then a
    (cell, dim) aggregate — ONE shuffle per iteration, vectors never
    self-join.  Each round's assignment is cached so round i+1
    doesn't replay rounds 0..i (the round-1 fixpoint lesson)."""
    from ..operators.similarity import (
        _as_double_vec,
        _nearest_packed,
        _pack_rows,
    )

    from ..functions import spread_scan

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # spread the under-split scan so every iteration's per-row argmin
    # uses the whole cluster (guide 2.5; no-op at scale)
    vecs = spread_scan(
        emb.select("vec_id", _as_double_vec("embedding").alias("v"))
    ).cache()
    centroids = vecs.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )

    assigned = None
    for i in range(KMEANS_N_ITER):
        assigned = (
            vecs.crossJoin(
                F.broadcast(_pack_rows(centroids, "centroid_id", "cv"))
            )
            .withColumn(
                "__best",
                _nearest_packed(
                    F.col("v"), F.col("__packed"), "centroid_id", "cv"
                ),
            )
            .select("vec_id", "v", F.col("__best.id").alias("centroid_id"))
        )
        if i < KMEANS_N_ITER - 1:
            assigned = assigned.cache()
            centroids = (
                assigned.select("centroid_id", F.posexplode("v").alias("dim", "val"))
                .groupBy("centroid_id", "dim")
                .agg(
                    (
                        F.expr("cast(sum(cast(val as decimal(28,8))) as double)")
                        / F.count(F.lit(1))
                    ).alias("cval")
                )
                .groupBy("centroid_id")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                        lambda s: s["cval"],
                    ).alias("cv")
                )
            )
    return assigned.select("vec_id", F.col("centroid_id").alias("cell"))


def _kmeans_iterations_sql(n_iter: int = KMEANS_N_ITER) -> str:
    """Unroll the Lloyd rounds as a CTE chain — generated by the same
    loop that builds the Spark plan, so the two can't drift."""
    dist = (
        "list_reduce(list_transform(list_zip({a}.v, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )
    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS v FROM embeddings)",
        f"cent0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e"
        f" WHERE vec_id < {N_CENTROIDS})",
    ]
    for i in range(n_iter):
        ctes.append(
            f"""assign{i} AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {dist.format(a='e')} ASC, c.centroid_id ASC) AS rn
    FROM e, cent{i} c
  ) WHERE rn = 1
)"""
        )
        if i < n_iter - 1:
            ctes.append(
                f"""cent{i + 1} AS (
  SELECT centroid_id, list(cval ORDER BY dim) AS cv FROM (
    SELECT centroid_id, dim,
           cast(sum(cast(val as decimal(28,8))) as double) / count(*) AS cval
    FROM (SELECT centroid_id, unnest(v) AS val,
                 generate_subscripts(v, 1) - 1 AS dim
          FROM assign{i})
    GROUP BY 1, 2
  ) GROUP BY centroid_id
)"""
            )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT vec_id, centroid_id AS cell FROM assign{n_iter - 1}"
    )


def kmeans_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-variants consolidation earmarked for r09 (the docstring
    trade in plans/queries.py — pre-built unit-first in r08): the one
    Lloyd family, one spec.  ``kmeans_refine``'s (cell_round1,
    cell_round2) ARE the 3-round chain's round-0 and round-1
    assignments, and ``kmeans_iterations``'s final cell is round 2 —
    so the suite runs the shared chain ONCE (3 assigns instead of the
    parts' 2+3) and serves both retiring specs' cells from it, every
    original output cell preserved.  Numeric pads cast double on both
    engines (the split-suite convention); bench baseline at
    registration = the parts' sum via bench.py RENAMED_FROM.
    Assignments are packed-quantizer argmins (r11,
    ``similarity._pack_rows`` — map-only, same tie-break and fold
    doubles as the former row_number windows)."""
    from ..operators.similarity import (
        _as_double_vec,
        _nearest_packed,
        _pack_rows,
    )

    from ..functions import spread_scan

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # spread the under-split scan so every iteration's per-row argmin
    # uses the whole cluster (guide 2.5; no-op at scale)
    vecs = spread_scan(
        emb.select("vec_id", _as_double_vec("embedding").alias("v"))
    ).cache()
    centroids = vecs.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )

    rounds: list[DataFrame] = []
    for i in range(KMEANS_N_ITER):
        assigned = (
            vecs.crossJoin(
                F.broadcast(_pack_rows(centroids, "centroid_id", "cv"))
            )
            .withColumn(
                "__best",
                _nearest_packed(
                    F.col("v"), F.col("__packed"), "centroid_id", "cv"
                ),
            )
            .select("vec_id", "v", F.col("__best.id").alias("centroid_id"))
        ).cache()
        rounds.append(assigned)
        if i < KMEANS_N_ITER - 1:
            centroids = (
                assigned.select("centroid_id", F.posexplode("v").alias("dim", "val"))
                .groupBy("centroid_id", "dim")
                .agg(
                    (
                        F.expr("cast(sum(cast(val as decimal(28,8))) as double)")
                        / F.count(F.lit(1))
                    ).alias("cval")
                )
                .groupBy("centroid_id")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                        lambda s: s["cval"],
                    ).alias("cv")
                )
            )
    nd = F.lit(None).cast("double")
    refine = (
        rounds[0]
        .select("vec_id", F.col("centroid_id").alias("cell_round1"))
        .join(
            rounds[1].select("vec_id", F.col("centroid_id").alias("cell_round2")),
            "vec_id",
        )
        .select(
            F.lit("refine").alias("variant"),
            "vec_id",
            F.col("cell_round1").cast("double").alias("cell_round1"),
            F.col("cell_round2").cast("double").alias("cell_round2"),
            nd.alias("cell"),
        )
    )
    iters = rounds[KMEANS_N_ITER - 1].select(
        F.lit("iter3").alias("variant"),
        "vec_id",
        nd.alias("cell_round1"),
        nd.alias("cell_round2"),
        F.col("centroid_id").cast("double").alias("cell"),
    )
    return refine.unionByName(iters)


def _kmeans_suite_sql(n_iter: int = KMEANS_N_ITER) -> str:
    """One CTE chain, both variants read from it — generated by the
    same unroll as the Spark loop so the two can't drift."""
    chain = _kmeans_iterations_sql(n_iter)
    body = chain.rsplit("\nSELECT", 1)[0]
    return f"""{body}
SELECT 'refine' AS variant, a0.vec_id,
       a0.centroid_id::DOUBLE AS cell_round1,
       a1.centroid_id::DOUBLE AS cell_round2,
       NULL::DOUBLE AS cell
FROM assign0 a0 JOIN assign1 a1 ON a0.vec_id = a1.vec_id
UNION ALL
SELECT 'iter3', vec_id, NULL::DOUBLE, NULL::DOUBLE,
       centroid_id::DOUBLE
FROM assign{n_iter - 1}
"""


KMEANS_SUITE_SQL = _kmeans_suite_sql()

# --- n-gram frequency profile ----------------------------------------------


def ngram_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language (corpus-statistics primitive:
    explode → count → per-group top-k).

    100 TB shape (r11): a single top-k window partitioned on ``lang``
    would sort EVERY distinct bigram of a language in one task —
    parallelism capped at the handful of languages, the same
    mega-domain cliff ``calibrate_quality_by_domain`` had.  Two-stage
    exact top-k instead: stage 1 takes the top 5 per (lang, salt)
    bucket — 32-way parallel per language, and every true global
    top-5 row is necessarily in its own bucket's top 5 — stage 2
    re-ranks the ≤ 5×32 survivors per language, a bounded frame.
    Same (n desc, bigram asc) total order ⇒ bit-identical rows and
    ranks to the single-window form and the DuckDB oracle."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select("lang", F.split("text", " ").alias("__toks"))
    bigrams = toks.select(
        "lang", F.explode(dedup.shingles_from_tokens("__toks", 2)).alias("bigram")
    )
    counts = bigrams.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w_bucket = Window.partitionBy("lang", "__salt").orderBy(
        F.col("n").desc(), F.col("bigram").asc()
    )
    cand = (
        counts.withColumn("__salt", F.pmod(F.hash("bigram"), F.lit(32)))
        .withColumn("__r", F.row_number().over(w_bucket))
        .filter(F.col("__r") <= 5)
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "bigram", "n", "rank")
    )


NGRAM_FREQUENCIES_SQL = f"""
WITH tok AS (SELECT lang, string_split(text, ' ') AS tok FROM documents),
bigrams AS (SELECT lang, unnest({sql_shingles('tok', 2)}) AS bigram FROM tok),
counts AS (SELECT lang, bigram, count(*) AS n FROM bigrams GROUP BY 1, 2)
SELECT lang, bigram, n, rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY lang ORDER BY n DESC, bigram ASC) AS rank
  FROM counts
) WHERE rank <= 5
"""

# --- Scalar-function showcase (§2.7 breadth) --------------------------------


def scalar_functions_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction, math, string, and conditional scalars in one
    per-row map — every function pair verified engine-identical."""
    p = load_tables(spark, sf_dir, ("part",))["part"]
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_first_word"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.ceil(F.col("p_retailprice")).cast("long").alias("price_ceil"),
        F.floor(F.col("p_retailprice")).cast("long").alias("price_floor"),
        F.sqrt(F.col("p_retailprice")).alias("price_sqrt"),
        # ln: JVM Math.log and libm log are each 1-ulp-accurate but not
        # identical (18/2000 rows differed raw) — round to 8dp. sqrt is
        # IEEE-correctly-rounded, no such divergence.
        exact_round(F.log(F.col("p_retailprice")), 8).alias("price_ln"),
        F.pow(F.col("p_size").cast("double"), F.lit(2.0)).alias("size_sq"),
        F.concat_ws("-", "p_brand", F.upper(F.substring("p_name", 1, 3))).alias(
            "brand_tag"
        ),
        F.when(F.col("p_size") >= 25, "large").otherwise("small").alias("size_class"),
        F.coalesce(F.nullif("p_brand", F.lit("Brand#13")), F.lit("OTHER")).alias(
            "brand_or_other"
        ),
    )


SCALAR_FUNCTIONS_SQL = """
SELECT p_partkey,
       regexp_extract(p_type, '^(\\w+)', 1) AS type_first_word,
       abs(p_size - 25) AS size_dev,
       ceil(p_retailprice)::BIGINT AS price_ceil,
       floor(p_retailprice)::BIGINT AS price_floor,
       sqrt(p_retailprice) AS price_sqrt,
       cast(round(cast(ln(p_retailprice) as decimal(28,12)), 8) as double) AS price_ln,
       pow(p_size::DOUBLE, 2.0) AS size_sq,
       p_brand || '-' || upper(substr(p_name, 1, 3)) AS brand_tag,
       CASE WHEN p_size >= 25 THEN 'large' ELSE 'small' END AS size_class,
       coalesce(nullif(p_brand, 'Brand#13'), 'OTHER') AS brand_or_other
FROM part
"""


# --- PageRank over the supplier→customer shipping graph ---------------------

PR_DAMPING = 0.85
PR_N_ITER = 2


def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 unrolled iterations, damping 0.85) on the bipartite
    supplier→customer shipping graph: an edge per (suppkey, custkey)
    with weight = shipped line count (lineitem⨝orders).

    Node ids are integers throughout the iterations — supplier k maps
    to 2k, customer k to 2k+1, so the two key spaces cannot collide —
    and the human-readable 's:…'/'c:…' string form is rendered only
    in the final O(nodes) projection, so every shuffle (node-distinct,
    per-iteration join + aggregate) hashes and compares 8-byte ints,
    not variable-length UTF8.

    Exactness through iterations: each rank update's weighted sum runs
    in decimal(28,12) and the rank is rounded to 8 dp before feeding
    the next round — both engines therefore iterate on bit-identical
    state.  The round scale sits BELOW the cast scale (the
    `sql_exact_round` 2dp-over-8dp pattern): rounding at the cast's
    own scale would expose the engines' last-ulp double→decimal
    quantization difference (observed once at sf0.001 with
    round-8-over-decimal-scale-8).  Dangling mass (customers
    have no out-edges) is dropped identically on both sides — the
    simple-PageRank variant.

    Scale shape per iteration: one join of the edge list against the
    current rank vector (both hashed on src) and one dst-keyed
    aggregate — the standard distributed PageRank plan; ranks/edges
    never cross-join.

    Build cost: the edge cache is filled eagerly (``edges_n.count()``
    below), so building the query runs a Spark job even when the
    caller only explains it (plan dumps, plan-shape tests) — kept for
    the measured win, ADVICE (low)."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    edges = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            (F.col("l_suppkey").cast("long") * 2).alias("src"),
            (F.col("o_custkey").cast("long") * 2 + 1).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    # Cache the normalized edge list AND populate it eagerly: every
    # iteration (and the node derivation) otherwise re-executes the
    # lineitem⨝orders aggregate — the dedup_clusters fixpoint lesson
    # (measured 4.9s → ~2s at sf0.1).  The eager count closes the
    # remaining race: under AQE the independent consumers launch
    # their query stages concurrently against a not-yet-populated
    # cache (guide §5; solo 3.83 → 3.63s at sf0.1, and the
    # duplicated-materialization executor time stops competing for
    # cores at low core counts).  A window-form normalization and a
    # localCheckpoint were both measured slower (4.7s / 6.8s solo) —
    # the window adds a sort exchange on the iteration's critical
    # path, the checkpoint pins the un-coalesced fan-out.
    edges_n = (
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("outw")).alias("p"))
        .cache()
    )
    edges_n.count()  # populate the cache before the consumers race it
    nodes = (
        edges_n.select(F.col("src").alias("node"))
        .union(edges_n.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))

    rank = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node",
        F.expr("cast(round(cast(1.0 / n as decimal(28,12)), 8) as double)").alias(
            "r"
        ),
        "n",
    )
    for _ in range(PR_N_ITER):
        contrib = (
            edges_n.join(rank.select(F.col("node").alias("src"), "r"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.expr(
                    "cast(sum(cast(r * p as decimal(28,12))) as double)"
                ).alias("inflow")
            )
        )
        rank = (
            rank.select("node", "n")
            .join(contrib, "node", "left")
            .select(
                "node",
                F.expr(
                    f"cast(round(cast((1.0 - {PR_DAMPING}) / n"
                    f" + {PR_DAMPING} * coalesce(inflow, 0.0)"
                    " as decimal(28,12)), 8) as double)"
                ).alias("r"),
                "n",
            )
        )
    return rank.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("s:")).otherwise(F.lit("c:")),
            F.expr("node div 2"),
        ).alias("node"),
        F.col("r").alias("pagerank"),
    )


def _pagerank_sql(n_iter: int = PR_N_ITER) -> str:
    ctes = [
        """edges AS (
  SELECT l.l_suppkey::BIGINT * 2 AS src, o.o_custkey::BIGINT * 2 + 1 AS dst,
         count(*)::DOUBLE AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)""",
        "outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY src)",
        """edges_n AS (
  SELECT e.src, e.dst, e.w / o.outw AS p FROM edges e JOIN outw o USING (src)
)""",
        """nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
)""",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        """r0 AS (
  SELECT node, cast(round(cast(1.0 / n as decimal(28,12)), 8) as double) AS r, n
  FROM nodes CROSS JOIN nn
)""",
    ]
    for i in range(n_iter):
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS node,
         cast(sum(cast(r{i}.r * e.p as decimal(28,12))) as double) AS inflow
  FROM edges_n e JOIN r{i} ON e.src = r{i}.node
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""r{i + 1} AS (
  SELECT b.node,
         cast(round(cast((1.0 - {PR_DAMPING}) / b.n
              + {PR_DAMPING} * coalesce(c{i}.inflow, 0.0)
              as decimal(28,12)), 8) as double) AS r,
         b.n
  FROM r{i} b LEFT JOIN c{i} USING (node)
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT (CASE WHEN node % 2 = 0 THEN 's:' ELSE 'c:' END)
         || (node // 2)::BIGINT AS node,
       r AS pagerank
FROM r{n_iter}"""
    )


SUPPLIER_PAGERANK_SQL = _pagerank_sql()


# --- Graph primitives as contract queries (degrees, triangles) --------------
#
# Graph: part co-purchase — an undirected edge between two parts
# whenever they appear in the SAME order.  The per-order self-join
# fanout is bounded by order size (single-digit lines per order at any
# SF), so edge construction is a per-key bounded join + distinct.
#
# Node-key choice is the scale lever (measured, r03): the same
# construction keyed on SUPPLIER densifies toward a clique — the
# supplier vocabulary is 20x smaller than parts, so at sf0.1 the
# 1000-node co-supply graph had ~all 500k possible edges and the
# oriented wedge count grew ~n^3 (29s+ at sf0.1, 1000x the sf0.01
# cost for 10x the data).  Keyed on PART, nodes and edges both grow
# linearly with data while expected degree stays ~constant
# (6 * orders / parts), so wedge volume — and the triangle join —
# scales linearly.  Rule: co-occurrence graphs for counting must be
# keyed on a dimension whose cardinality scales with the fact table.


# The contract queries scope the graph to one ship-date window — the
# typical "graph per time slice" analytic.  The date filter reaches
# the parquet scan (PushedFilters), the windowed graph still grows
# linearly with data at fixed window length, and the full-history
# graph remains available via bounds=None.
GRAPH_WINDOW = ("1995-01-01", "1995-12-31")


def _copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    bounds: tuple[str, str] | None = GRAPH_WINDOW,
) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    if bounds is not None:
        li = li.filter(
            (F.col("l_shipdate") >= F.lit(bounds[0]))
            & (F.col("l_shipdate") <= F.lit(bounds[1]))
        )
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


COPURCHASE_EDGES_CTE = f"""
e AS (
  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
  FROM lineitem l1
  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
    AND l1.l_shipdate BETWEEN '{GRAPH_WINDOW[0]}' AND '{GRAPH_WINDOW[1]}'
    AND l2.l_shipdate BETWEEN '{GRAPH_WINDOW[0]}' AND '{GRAPH_WINDOW[1]}'
)
"""


def graph_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part degree of the co-purchase graph — the
    ``operators.graph.degrees`` primitive over a fact-derived edge
    list (edge union + one count aggregate; one shuffle on node)."""
    from ..operators.graph import degrees

    return degrees(_copurchase_edges(spark, sf_dir)).select(
        F.col("node").alias("partkey"), "degree"
    )


GRAPH_DEGREE_PROFILE_SQL = f"""
WITH {COPURCHASE_EDGES_CTE}
SELECT node AS partkey, CAST(count(*) AS BIGINT) AS degree
FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
GROUP BY node
"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the co-purchase graph via the
    degree-ordered orientation (``operators.graph.triangle_count``):
    wedge fanout bounded by min(degree, sqrt(2m)) per node, so the
    plan survives high-degree hubs that break the naive E⋈E⋈E.  The
    oracle closes wedges in node order instead — orientation choice
    changes the join sizes, never the count."""
    from ..operators.graph import triangle_count

    return triangle_count(_copurchase_edges(spark, sf_dir))


GRAPH_TRIANGLE_COUNT_SQL = f"""
WITH {COPURCHASE_EDGES_CTE}
SELECT CAST(count(*) AS BIGINT) AS triangles
FROM e e1
JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst
"""


# --- SemDeDup: within-cluster semantic near-dup mining ----------------------

SEMDEDUP_TOPK = 3


def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup candidates, SemDeDup-shape (Abbas et al. 2023,
    arXiv:2303.09540): embeddings are coarse-quantized to cells
    (broadcast seed centroids, the ivf_assign plan), and near-dup
    pairs are mined ONLY within each cell — per-cell top-k most
    similar pairs by exact cosine.

    This is the scale path for embedding dedup: the quadratic pair
    scan that dedup_embedding_cosine bounds to small inputs runs here
    per-cell, where cell size is controlled by the centroid count.
    The seed-centroid count AUTO-SCALES as ceil(sqrt(n)) (r05, from
    the measured sf0.5 lesson: holding it fixed at 8 made per-cell
    pair mining superlinear — 53× wall at 5× data; sqrt(n) cells keep
    expected cell size sqrt(n) and the pair scan ~linear).  The count
    rides along as a 1-row broadcast (no driver pull), and the oracle
    computes the identical scalar subquery, so the knob itself is
    driver-verified.  ``semdedup_trained_pairs`` remains the
    production entry (k-means-refined centroids, explicit k); this
    seed variant is the cheap first-pass with a now-safe default.
    One packed-broadcast assignment (r11, ``similarity._pack_rows`` —
    map-only per-row argmin, same tie-break and fold doubles as the
    former row_number window), one cell-keyed self-join, one bounded
    per-cell window — no global pair explosion.  Cosines are strict
    left-fold sums, bit-equal to the DuckDB oracle's list_reduce."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        _as_double_vec,
        _fold_sum,
        _nearest_packed,
        _pack_rows,
    )

    from ..functions import spread_scan

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # the packed-broadcast assignment's per-row argmin runs in the
    # one-effective-task scan stage — spread the under-split scan
    # first (guide §2.5; no-op at scale)
    vecs = spread_scan(
        emb.select("vec_id", _as_double_vec("embedding").alias("v"))
    ).withColumn(
        "nrm", F.sqrt(_fold_sum(F.transform(F.col("v"), lambda x: x * x)))
    )
    k = vecs.agg(
        F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long").alias("__k")
    )
    centroids = (
        vecs.crossJoin(F.broadcast(k))
        .filter(F.col("vec_id") < F.col("__k"))
        .select(F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv"))
    )
    cells = (
        vecs.crossJoin(F.broadcast(_pack_rows(centroids, "centroid_id", "cv")))
        .withColumn(
            "__best",
            _nearest_packed(F.col("v"), F.col("__packed"), "centroid_id", "cv"),
        )
        .select(
            F.col("vec_id"), F.col("__best.id").alias("cell"), "v", "nrm"
        )
        # cached: both pair-join sides read it, and the map-only packed
        # assign has no exchange for ReusedExchange to share (r11)
        .cache()
    )
    a = cells.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = cells.select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _fold_sum(F.zip_with("va", "vb", lambda x, y: x * y))
            / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)),
        )
    )
    w_rank = Window.partitionBy("cell").orderBy(
        F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    )
    return (
        pairs.withColumn("pair_rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("pair_rank") <= SEMDEDUP_TOPK)
        .select("cell", "pair_rank", "id_a", "id_b", "cosine")
    )


SEMDEDUP_PAIRS_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM e
),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e
      WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e)),
scored AS (
  SELECT n.vec_id, n.v, n.nrm, c.centroid_id,
         list_reduce(list_transform(list_zip(n.v, c.cv),
                     p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
  FROM n, c
),
cells AS (
  SELECT vec_id, centroid_id AS cell, v, nrm FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         list_reduce(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]),
                     (x, y) -> x + y) / nullif(a.nrm * b.nrm, 0) AS cosine
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT cell, pair_rank, id_a, id_b, cosine FROM (
  SELECT *, row_number() OVER (
      PARTITION BY cell ORDER BY cosine DESC, id_a ASC, id_b ASC) AS pair_rank
  FROM pairs
) WHERE pair_rank <= {SEMDEDUP_TOPK}
"""


def semdedup_trained_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup PRODUCTION path end-to-end (VERDICT r03 item 3):
    ``semdedup_pairs`` seeds cells with ``vec_id < N_CENTROIDS``;
    here the cells come from TRAINED centroids — one decimal-exact
    Lloyd refinement (the ``kmeans_refine`` plan) — then the same
    cell-keyed pair mining.  This oracle-proves the composition that
    a real 100 TB embedding-dedup pipeline runs: train coarse
    centroids, assign, mine near-dups only within cells.

    Plan shape: two packed-broadcast assignment passes (r11,
    ``similarity._pack_rows`` — map-only per-row argmins, same
    tie-break and fold doubles as the former row_number windows) +
    one (cell, dim) centroid aggregate + one cell-keyed self-join +
    one bounded per-cell window — nothing quadratic in the corpus,
    cells stay sqrt(n)-sized when centroid count tracks sqrt(n).
    All distances/means/cosines are strict left folds or
    decimal-exact sums, bit-equal to the DuckDB oracle."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        _as_double_vec,
        _fold_sum,
        _nearest_packed,
        _pack_rows,
    )

    from ..functions import spread_scan

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # both packed-broadcast assignment passes run their per-row argmin
    # in the one-effective-task scan stage (profiled 1977 ms single
    # task at sf0.1) — spread the under-split scan first (guide §2.5;
    # no-op at scale); every downstream aggregate is decimal-exact
    vecs = spread_scan(
        emb.select("vec_id", _as_double_vec("embedding").alias("v"))
    ).withColumn(
        "nrm", F.sqrt(_fold_sum(F.transform(F.col("v"), lambda x: x * x)))
    )

    def assign(centroids: DataFrame) -> DataFrame:
        return (
            vecs.crossJoin(
                F.broadcast(_pack_rows(centroids, "centroid_id", "cv"))
            )
            .withColumn(
                "__best",
                _nearest_packed(
                    F.col("v"), F.col("__packed"), "centroid_id", "cv"
                ),
            )
            .select("vec_id", "v", "nrm", F.col("__best.id").alias("cell"))
        )

    seeds = vecs.select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    ).filter(F.col("centroid_id") < N_CENTROIDS)
    assign0 = assign(seeds)
    refined = (
        assign0.select("cell", F.posexplode(F.col("v")).alias("dim", "val"))
        .groupBy(F.col("cell").alias("centroid_id"), "dim")
        .agg(
            (
                F.expr("cast(sum(cast(val as decimal(28,8))) as double)")
                / F.count(F.lit(1))
            ).alias("cval")
        )
        .groupBy("centroid_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                lambda s: s["cval"],
            ).alias("cv")
        )
    )
    # cached: both pair-join sides read it, and the map-only packed
    # assign has no exchange for ReusedExchange to share (r11)
    cells = assign(refined).cache()
    a = cells.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = cells.select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _fold_sum(F.zip_with("va", "vb", lambda x, y: x * y))
            / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)),
        )
    )
    w_rank = Window.partitionBy("cell").orderBy(
        F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    )
    return (
        pairs.withColumn("pair_rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("pair_rank") <= SEMDEDUP_TOPK)
        .select("cell", "pair_rank", "id_a", "id_b", "cosine")
    )


def _semdedup_trained_sql(seed_pred: str) -> str:
    """The trained-pairs oracle chain with a pluggable seed predicate:
    the standalone spec seeds ``vec_id < N_CENTROIDS`` (fixed — the
    documented per-cell quadratic fixture law); the routing suite
    seeds ``vec_id < ceil(sqrt(n))`` (the production cell rule)."""
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM e
),
seeds AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE {seed_pred}),
s0 AS (
  SELECT e.vec_id, e.v, c.centroid_id,
         list_reduce(list_transform(list_zip(e.v, c.cv),
                     p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
  FROM e, seeds c
),
assign0 AS (
  SELECT vec_id, v, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM s0
  ) WHERE rn = 1
),
dims AS (
  SELECT cell, unnest(v) AS val, generate_subscripts(v, 1) - 1 AS dim
  FROM assign0
),
refined AS (
  SELECT centroid_id, list(cval ORDER BY dim) AS cv FROM (
    SELECT cell AS centroid_id, dim,
           cast(sum(cast(val as decimal(28,8))) as double) / count(*) AS cval
    FROM dims GROUP BY 1, 2
  ) GROUP BY centroid_id
),
s1 AS (
  SELECT n.vec_id, n.v, n.nrm, c.centroid_id,
         list_reduce(list_transform(list_zip(n.v, c.cv),
                     p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
  FROM n, refined c
),
cells AS (
  SELECT vec_id, centroid_id AS cell, v, nrm FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM s1
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         list_reduce(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]),
                     (x, y) -> x + y) / nullif(a.nrm * b.nrm, 0) AS cosine
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT cell, pair_rank, id_a, id_b, cosine FROM (
  SELECT *, row_number() OVER (
      PARTITION BY cell ORDER BY cosine DESC, id_a ASC, id_b ASC) AS pair_rank
  FROM pairs
) WHERE pair_rank <= {SEMDEDUP_TOPK}
"""


SEMDEDUP_TRAINED_PAIRS_SQL = _semdedup_trained_sql(
    f"vec_id < {N_CENTROIDS}"
)


# --- SemDeDup with coarse-routed assignment (r06 registry candidate) --------


def semdedup_routed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pair mining with the assignment stage swapped for
    ``similarity.two_level_assign`` (seed supers, n_probe=2): the
    sub-n·k routed assignment measured 4.2× faster than the flat scan
    at n=10 K/k=100, and a mis-routed vector merely mines its pairs
    in an adjacent cell — the SemDeDup failure mode routing can
    afford, unlike top-k search.  Deterministic end to end, so the
    DuckDB twin (tests/test_two_level_assign.py drove it pre-
    registration; SEMDEDUP_ROUTED_PAIRS_SQL below) replays supers →
    multi-probe routing → within-group nearest → per-cell top-k
    bit-exactly.  Registered r06 (VERDICT r05 ask #1): the driver hash
    proves the full routed SemDeDup production path end-to-end."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        _as_double_vec,
        _fold_sum,
        two_level_assign,
    )

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    k = emb.agg(
        F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long").alias("__k")
    )
    centroids = (
        emb.crossJoin(F.broadcast(k))
        .filter(F.col("vec_id") < F.col("__k"))
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cv"),
        )
    )
    cells = two_level_assign(emb, centroids, n_probe=2)
    vecs = emb.select(
        "vec_id", _as_double_vec("embedding").alias("v")
    ).withColumn(
        "nrm", F.sqrt(_fold_sum(F.transform(F.col("v"), lambda x: x * x)))
    )
    assigned = vecs.join(cells, "vec_id")
    a = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _fold_sum(F.zip_with("va", "vb", lambda x, y: x * y))
            / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)),
        )
    )
    w_rank = Window.partitionBy("cell").orderBy(
        F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    )
    return (
        pairs.withColumn("pair_rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("pair_rank") <= SEMDEDUP_TOPK)
        .select("cell", "pair_rank", "id_a", "id_b", "cosine")
    )


def _semdedup_routed_sql() -> str:
    dist = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM e
),
c AS (SELECT vec_id AS cid, v AS cv FROM e
      WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e)),
s AS (SELECT cid AS sid, cv AS sv FROM (
        SELECT cid, cv, row_number() OVER (ORDER BY cid) AS srn FROM c)
      WHERE srn <= (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM c)),
grouped AS (
  SELECT sid, cid, cv FROM (
    SELECT s.sid, c.cid, c.cv, row_number() OVER (
        PARTITION BY c.cid
        ORDER BY {dist.format(a='c.cv', b='s.sv')} ASC, s.sid ASC) AS rn
    FROM c, s) WHERE rn = 1
),
s_live AS (
  -- totality-guard mirror (no-op for seed supers: each owns itself)
  SELECT s.* FROM s WHERE EXISTS (SELECT 1 FROM grouped g WHERE g.sid = s.sid)
),
routed AS (
  SELECT vec_id, v, sid FROM (
    SELECT e.vec_id, e.v, s.sid, row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {dist.format(a='e.v', b='s.sv')} ASC, s.sid ASC) AS rn
    FROM e, s_live s) WHERE rn <= 2
),
cells AS (
  SELECT vec_id, cell FROM (
    SELECT r.vec_id, g.cid AS cell, row_number() OVER (
        PARTITION BY r.vec_id
        ORDER BY {dist.format(a='r.v', b='g.cv')} ASC, g.cid ASC) AS rn
    FROM routed r JOIN grouped g USING (sid)) WHERE rn = 1
),
assigned AS (
  SELECT n.vec_id, n.v, n.nrm, cells.cell
  FROM n JOIN cells USING (vec_id)
),
pairs AS (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         list_reduce(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]),
                     (x, y) -> x + y) / nullif(a.nrm * b.nrm, 0) AS cosine
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT cell, pair_rank, id_a, id_b, cosine FROM (
  SELECT *, row_number() OVER (
      PARTITION BY cell ORDER BY cosine DESC, id_a ASC, id_b ASC) AS pair_rank
  FROM pairs
) WHERE pair_rank <= {SEMDEDUP_TOPK}
"""


SEMDEDUP_ROUTED_PAIRS_SQL = _semdedup_routed_sql()


# tau sits below the synthetic corpus's max pair cosine (0.49 at
# sf0.01) so the drop path actually fires — a keep-all threshold
# would leave the anti join untested.
SEMDEDUP_TAU = 0.4


def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end PRUNE (r06 registry candidate): mine
    within-cell pairs (the auto-scaled seed-centroid miner) and emit
    the KEPT corpus ids — every vector except those that are the
    higher id of a pair scoring >= tau.  This is the actual training
    ingest contract: what stays in the dataset, not just the pair
    evidence.  Deterministic, so the oracle wraps the pair SQL in a
    NOT EXISTS (left-anti semantics, null-safe by construction since
    pair ids are never null)."""
    from ..operators.similarity import semdedup_prune

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    pairs = semdedup_pairs(spark, sf_dir)
    return semdedup_prune(
        emb.select("vec_id", "label"), pairs, tau=SEMDEDUP_TAU
    ).orderBy("vec_id")


SEMDEDUP_KEEP_SQL = f"""
WITH pairs AS ({SEMDEDUP_PAIRS_SQL})
SELECT vec_id, label FROM embeddings e
WHERE NOT EXISTS (
  SELECT 1 FROM pairs p
  WHERE p.id_b = e.vec_id AND p.cosine >= {SEMDEDUP_TAU}
)
ORDER BY vec_id
"""


def semdedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-variants consolidation earmarked for r12 (the docstring
    trade in plans/queries.py — pre-built unit-first in r08): the
    SemDeDup mine + prune family, one spec.  ``semdedup_keep``
    recomputed ``semdedup_pairs``' whole cell-bounded miner just to
    anti-join its drop set; the suite mines the pairs ONCE (cached)
    and serves both retiring specs' rows from that one pass — the
    'pairs' variant is the pair evidence verbatim, the 'keep' variant
    is the pruned corpus derived from the same cached frame.  Numeric
    pads cast double on both engines; bench baseline at registration
    = the parts' sum via bench.py RENAMED_FROM."""
    from ..operators.similarity import semdedup_prune

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    pairs = semdedup_pairs(spark, sf_dir).cache()
    kept = semdedup_prune(
        emb.select("vec_id", "label"), pairs, tau=SEMDEDUP_TAU
    )
    nd = F.lit(None).cast("double")
    nb = F.lit(None).cast("bigint")
    p = pairs.select(
        F.lit("pairs").alias("variant"),
        F.col("cell").cast("double").alias("cell"),
        F.col("pair_rank").cast("double").alias("pair_rank"),
        "id_a",
        "id_b",
        "cosine",
        nb.alias("vec_id"),
        nd.alias("label"),
    )
    k = kept.select(
        F.lit("keep").alias("variant"),
        nd.alias("cell"),
        nd.alias("pair_rank"),
        nb.alias("id_a"),
        nb.alias("id_b"),
        nd.alias("cosine"),
        "vec_id",
        F.col("label").cast("double").alias("label"),
    )
    return p.unionByName(k)


SEMDEDUP_SUITE_SQL = f"""
WITH pairs AS ({SEMDEDUP_PAIRS_SQL})
SELECT 'pairs' AS variant, CAST(cell AS DOUBLE) AS cell,
       CAST(pair_rank AS DOUBLE) AS pair_rank, id_a, id_b, cosine,
       CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS DOUBLE) AS label
FROM pairs
UNION ALL
SELECT 'keep', NULL, NULL, NULL, NULL, NULL, vec_id,
       CAST(label AS DOUBLE)
FROM embeddings e
WHERE NOT EXISTS (
  SELECT 1 FROM pairs p
  WHERE p.id_b = e.vec_id AND p.cosine >= {SEMDEDUP_TAU}
)
"""


# --- Trained coarse-routed assignment (registered r06) ----------------------

ROUTED_K = 16       # codebook: the first 16 vectors by id
ROUTED_SUPERS = 4   # = ceil(sqrt(ROUTED_K))
ROUTED_PROBE = 2    # multi-probe width (the IVF-nprobe recall knob)


def routed_assign_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (coarse-routed) centroid assignment with ONE trained
    super round and decimal-exact super means — the registered form of
    ``similarity.two_level_assign`` (VERDICT r05 ask #1/#3).  The sub-
    n·k path SemDeDup needs at 100 TB: route each vector through
    ``ROUTED_SUPERS`` trained super-centroids (n·√k broadcast work),
    then scan only the probed supers' centroid groups.  ``exact_means``
    makes the trained supers decimal(28,8)-reproducible so every
    routing — and therefore every final cell — is bit-identical to the
    DuckDB replay; the driver hash pins the full supers → Lloyd round →
    grouping → multi-probe routing → within-group-nearest chain.
    100 TB shape: two broadcast joins, no shuffle before the caller's
    per-cell work (see two_level_assign docstring)."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return _routed_assign_from(emb)


def _routed_assign_from(emb: DataFrame) -> DataFrame:
    """routed_assign_embeddings' chain from an already-loaded frame
    (shared-scan hook for ann_assign_suite)."""
    from ..operators.similarity import two_level_assign

    centroids = emb.filter(F.col("vec_id") < ROUTED_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    return two_level_assign(
        emb,
        centroids,
        n_super=ROUTED_SUPERS,
        n_probe=ROUTED_PROBE,
        train_supers=1,
        exact_means=True,
    ).orderBy("vec_id")


def _routed_assign_sql() -> str:
    dist = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {ROUTED_K}),
s0 AS (SELECT cid AS sid, cv AS sv FROM c WHERE cid < {ROUTED_SUPERS}),
casg AS (
  SELECT sid, cid, cv FROM (
    SELECT s0.sid, c.cid, c.cv, row_number() OVER (
        PARTITION BY c.cid
        ORDER BY {dist.format(a='c.cv', b='s0.sv')} ASC, s0.sid ASC) AS rn
    FROM c, s0) WHERE rn = 1
),
sdims AS (
  SELECT sid, unnest(cv) AS val, generate_subscripts(cv, 1) - 1 AS dim
  FROM casg
),
s AS (
  SELECT sid, list(m ORDER BY dim) AS sv FROM (
    SELECT sid, dim,
           cast(sum(cast(val as decimal(28,8))) as double) / count(*) AS m
    FROM sdims GROUP BY 1, 2
  ) GROUP BY sid
),
grouped AS (
  SELECT sid, cid, cv FROM (
    SELECT s.sid, c.cid, c.cv, row_number() OVER (
        PARTITION BY c.cid
        ORDER BY {dist.format(a='c.cv', b='s.sv')} ASC, s.sid ASC) AS rn
    FROM c, s) WHERE rn = 1
),
s_live AS (
  -- mirror the operator's totality guard: route only against supers
  -- owning >= 1 centroid (a no-op unless training emptied a group)
  SELECT s.* FROM s WHERE EXISTS (SELECT 1 FROM grouped g WHERE g.sid = s.sid)
),
routed AS (
  SELECT vec_id, v, sid FROM (
    SELECT e.vec_id, e.v, s.sid, row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {dist.format(a='e.v', b='s.sv')} ASC, s.sid ASC) AS rn
    FROM e, s_live s) WHERE rn <= {ROUTED_PROBE}
)
SELECT vec_id, cell FROM (
  SELECT r.vec_id, g.cid AS cell, row_number() OVER (
      PARTITION BY r.vec_id
      ORDER BY {dist.format(a='r.v', b='g.cv')} ASC, g.cid ASC) AS rn
  FROM routed r JOIN grouped g USING (sid)) WHERE rn = 1
ORDER BY vec_id
"""


ROUTED_ASSIGN_SQL = _routed_assign_sql()


# --- ANN coarse-assignment suite (the r11 consolidation) --------------------


def ann_assign_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-variants consolidation earmarked for r11 (the docstring
    trade in plans/queries.py — pre-built unit-first in r08): the two
    coarse-assignment specs, one spec.  The 'ivf' variant carries
    ``ivf_assign``'s cells + distances verbatim; the 'routed' variant
    carries ``routed_assign_embeddings``'s two-level cells verbatim.
    Shared work = the embeddings scan (cached once, both legs read
    it); the assignment chains stay the parts' exact plans so every
    original output cell survives the merge.  Numeric pads cast
    double on both engines; bench baseline at registration = the
    parts' sum via bench.py RENAMED_FROM."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"].cache()
    nd = F.lit(None).cast("double")
    ivf = _ivf_assign_from(emb).select(
        F.lit("ivf").alias("variant"),
        "vec_id",
        F.col("centroid_id").cast("double").alias("cell"),
        "dist",
    )
    routed = _routed_assign_from(emb).select(
        F.lit("routed").alias("variant"),
        "vec_id",
        F.col("cell").cast("double").alias("cell"),
        nd.alias("dist"),
    )
    return ivf.unionByName(routed)


ANN_ASSIGN_SUITE_SQL = f"""
WITH ivf_leg AS ({IVF_ASSIGN_SQL}),
routed_leg AS ({ROUTED_ASSIGN_SQL})
SELECT 'ivf' AS variant, vec_id, CAST(centroid_id AS DOUBLE) AS cell, dist
FROM ivf_leg
UNION ALL
SELECT 'routed', vec_id, CAST(cell AS DOUBLE), CAST(NULL AS DOUBLE)
FROM routed_leg
"""


# --- Product quantization suite (the r11 debut) -----------------------------

PQ_SUB = 4        # subspaces (64-dim embeddings -> 16-dim subvectors)
PQ_K = 8          # codewords per subspace codebook
PQ_N_QUERIES = 4  # ADC query vectors: vec_id < 4 (the suite convention)
PQ_TOPK = 5
PQ_SHORTLIST = 50  # ADC screen width feeding the exact re-rank stage
EMB_DIM = 64


def pq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end-to-end (train → encode → ADC search),
    the vector-compression leg the ANN stack was missing: IVF/routed
    give the coarse cells, PQ gives the in-cell compressed codes +
    asymmetric-distance ranking (Jégou et al., TPAMI 2011).

    Two variants, one schema:

    * 'encode' — per (vector, subspace): the trained codeword id and
      the squared-L2 quantization residual.  Codebook = first-8-ids
      seeds + one decimal(28,8)-exact Lloyd round per subspace
      (operators/similarity.pq_train_encode), so every code is
      bit-reproducible against the DuckDB replay.
    * 'adc' — top-5 neighbors per query (vec_id < 4) by asymmetric
      distance: exact query subvectors scored against the codebook
      once (a 4*4*8-row broadcast table), approximate distance =
      decimal-exact sum of the 4 code lookups, self excluded.
    * 'rerank' — the refine stage: the top-50 ADC shortlist's exact
      vectors re-scored by true L2, top-5 by exact distance.  On
      this near-i.i.d. synthetic corpus raw ADC recall@5 vs exact is
      ~0.20 (random data is the quantizer's worst case); the rerank
      stage recovers it to ~0.62 at R=50 (measured, SCALE.md) — the
      standard two-stage shape (FAISS IndexRefineFlat).

    100 TB shape: training/encode are broadcast-codebook map passes
    over the subspace explode plus one (m, code, dim) mean shuffle;
    ADC reads only the codes (n_sub small ints per vector, never the
    vectors) and shuffles once on (query_id, vec_id); rerank reads
    exactly R*n_queries exact vectors via a broadcast shortlist semi
    pattern.  No all-pairs anywhere; executor memory is O(k * dim)."""
    from ..operators.similarity import (
        _as_double_vec,
        pq_adc_topk,
        pq_rerank_topk,
        pq_train_encode,
    )

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    codes, codebook = pq_train_encode(
        emb, dim=EMB_DIM, n_sub=PQ_SUB, k=PQ_K, n_refine=1
    )
    codes = codes.cache()
    sub_d = EMB_DIM // PQ_SUB
    vecs = emb.select("vec_id", _as_double_vec("embedding").alias("v"))
    qvecs = vecs.filter(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    queries = (
        emb.filter(F.col("vec_id") < PQ_N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            _as_double_vec("embedding").alias("v"),
        )
        .select(
            "query_id",
            F.posexplode(
                F.array(
                    *[F.slice("v", m * sub_d + 1, sub_d) for m in range(PQ_SUB)]
                )
            ).alias("m", "sv"),
        )
    )
    shortlist = pq_adc_topk(codes, codebook, queries, k=PQ_SHORTLIST).cache()
    adc = shortlist.filter(F.col("rank") <= PQ_TOPK)
    rerank = pq_rerank_topk(shortlist, vecs, qvecs, k=PQ_TOPK)
    nd = F.lit(None).cast("double")
    enc = codes.select(
        F.lit("encode").alias("variant"),
        "vec_id",
        F.col("m").cast("double").alias("m"),
        F.col("code").cast("double").alias("code"),
        nd.alias("query_id"),
        "dist",
        nd.alias("rank"),
    )
    a = adc.select(
        F.lit("adc").alias("variant"),
        "vec_id",
        nd.alias("m"),
        nd.alias("code"),
        F.col("query_id").cast("double").alias("query_id"),
        F.col("adist").alias("dist"),
        F.col("rank").cast("double").alias("rank"),
    )
    r = rerank.select(
        F.lit("rerank").alias("variant"),
        "vec_id",
        nd.alias("m"),
        nd.alias("code"),
        F.col("query_id").cast("double").alias("query_id"),
        "dist",
        F.col("rank").cast("double").alias("rank"),
    )
    return enc.unionByName(a).unionByName(r)


def _pq_suite_sql(
    n_sub: int = PQ_SUB,
    k: int = PQ_K,
    dim: int = EMB_DIM,
    n_q: int = PQ_N_QUERIES,
    topk: int = PQ_TOPK,
    shortlist: int = PQ_SHORTLIST,
) -> str:
    """Generated by the same constants as the Spark plan so the two
    can't drift: subspace explode unrolled as a UNION ALL, one seeded
    assign + decimal-exact mean round, re-encode, ADC lookup-sum,
    exact re-rank of the ADC shortlist."""
    sub_d = dim // n_sub
    dist = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )
    subs = "\n  UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, v[{m * sub_d + 1}:{(m + 1) * sub_d}] AS sv"
        " FROM e"
        for m in range(n_sub)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
subs AS (
  {subs}
),
seed AS (SELECT m, vec_id AS code, sv AS cv FROM subs WHERE vec_id < {k}),
asg0 AS (
  SELECT vec_id, m, sv, code FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
    FROM (SELECT s.vec_id, s.m, s.sv, c.code,
                 {dist.format(a='s.sv', b='c.cv')} AS dist
          FROM subs s JOIN seed c USING (m))
  ) WHERE rn = 1
),
cb AS (
  SELECT m, code, list(cval ORDER BY dim) AS cv FROM (
    SELECT m, code, dim,
           cast(sum(cast(val as decimal(28,8))) as double) / count(*) AS cval
    FROM (SELECT m, code, unnest(sv) AS val,
                 generate_subscripts(sv, 1) - 1 AS dim FROM asg0)
    GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
),
codes AS (
  SELECT vec_id, m, code, dist FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
    FROM (SELECT s.vec_id, s.m, c.code,
                 {dist.format(a='s.sv', b='c.cv')} AS dist
          FROM subs s JOIN cb c USING (m))
  ) WHERE rn = 1
),
dtab AS (
  SELECT q.vec_id AS query_id, q.m, c.code,
         {dist.format(a='q.sv', b='c.cv')} AS d
  FROM subs q JOIN cb c USING (m) WHERE q.vec_id < {n_q}
),
ad AS (
  SELECT d.query_id, x.vec_id,
         cast(sum(cast(d.d AS decimal(28,8))) AS double) AS adist
  FROM codes x JOIN dtab d ON d.m = x.m AND d.code = x.code
  WHERE x.vec_id <> d.query_id
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, vec_id, adist, rank FROM (
    SELECT query_id, vec_id, adist, row_number() OVER (
        PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rank
    FROM ad) WHERE rank <= {shortlist}
),
rerank AS (
  SELECT query_id, vec_id, dist, rank FROM (
    SELECT query_id, vec_id, dist, row_number() OVER (
        PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
    FROM (SELECT s.query_id, s.vec_id,
                 {dist.format(a='x.v', b='q.v')} AS dist
          FROM short s JOIN e x ON x.vec_id = s.vec_id
                       JOIN e q ON q.vec_id = s.query_id)
  ) WHERE rank <= {topk}
)
SELECT 'encode' AS variant, vec_id, CAST(m AS DOUBLE) AS m,
       CAST(code AS DOUBLE) AS code, CAST(NULL AS DOUBLE) AS query_id,
       dist, CAST(NULL AS DOUBLE) AS rank
FROM codes
UNION ALL
SELECT 'adc', vec_id, NULL, NULL, CAST(query_id AS DOUBLE),
       adist, CAST(rank AS DOUBLE)
FROM short WHERE rank <= {topk}
UNION ALL
SELECT 'rerank', vec_id, NULL, NULL, CAST(query_id AS DOUBLE),
       dist, CAST(rank AS DOUBLE)
FROM rerank
"""


PQ_SUITE_SQL = _pq_suite_sql()


# --- IVF-PQ: residual product quantization (the r12 debut) ------------------

IVFPQ_PROBE = 2


def ivfpq_suite(
    spark: SparkSession, sf_dir: str, nprobe: int = IVFPQ_PROBE
) -> DataFrame:
    """IVF-PQ (Jégou et al. TPAMI 2011 §IV — the FAISS IVFPQ index,
    the canonical billion-scale ANN layout): coarse-quantize every
    vector to its nearest seed cell, PQ-encode the RESIDUAL x - c(x)
    with one shared subspace codebook, and search by ADC over the
    probed cells only — each query builds its lookup table from its
    residual w.r.t. each probed cell's centroid, and candidates are
    restricted to vectors OWNED by those cells.

    Two variants, one schema:

    * 'encode' — per (vector, subspace): owning cell, residual
      codeword id, squared-L2 residual quantization error.  (On
      clustered corpora residual codebooks concentrate energy near
      zero and quantize tighter than raw-vector PQ; on this
      i.i.d. synthetic table var(x - c) > var(x) — 531 vs 423 total
      squared error, measured — so the suite documents the
      corpus-dependence instead of asserting the textbook win.)
    * 'adc' — top-5 per query (vec_id < 4) across its IVFPQ_PROBE=2
      nearest cells, decimal-exact lookup sums, self excluded.

    100 TB shape: everything pq_suite's plan note says, plus the
    probe restriction — the ADC join hits only ~nprobe/n_cells of
    the code table via the (cell, m, code) broadcast key, which is
    the inverted-list pruning that makes IVF-PQ sub-linear in
    practice.  The coarse ranking is one packed-broadcast expression
    (r11, ``similarity._pack_rows``: sort the per-cell distance
    structs once per row, map-only — same (cdist asc, cell asc)
    order as the former row_number window) serving both the
    element 1 owning-cell residuals and the first-nprobe query
    routing."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        _as_double_vec,
        _fold_sum,
        _pack_rows,
        pq_train_encode,
    )

    from ..functions import spread_scan

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # the per-row full-cell distance ranking below runs in the
    # one-effective-task scan stage — spread an under-split scan
    # first (guide §2.5; no-op at scale)
    vecs = spread_scan(
        emb.select("vec_id", _as_double_vec("embedding").alias("v"))
    )
    coarse = vecs.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    ranked = vecs.crossJoin(
        F.broadcast(_pack_rows(coarse, "cell", "cv"))
    ).withColumn(
        "__ranked",
        F.array_sort(
            F.transform(
                F.col("__packed"),
                lambda c: F.struct(
                    _fold_sum(
                        F.zip_with(
                            F.col("v"), c["cv"], lambda x, y: (x - y) * (x - y)
                        )
                    ).alias("cdist"),
                    c["cell"].alias("cell"),
                    c["cv"].alias("cv"),
                ),
            )
        ),
    )
    best = F.element_at(F.col("__ranked"), 1)
    asg = ranked.select(
        "vec_id",
        best["cell"].alias("cell"),
        F.zip_with(F.col("v"), best["cv"], lambda x, y: x - y).alias("r"),
    ).cache()
    # seed the residual codebook past the coarse-centroid ids: ids
    # 0..n_cells-1 ARE the centroids, so their residuals are zero
    # vectors and would collapse the seed set (see pq_train_encode)
    codes, codebook = pq_train_encode(
        asg,
        dim=EMB_DIM,
        n_sub=PQ_SUB,
        k=PQ_K,
        n_refine=1,
        vec_col="r",
        seed_offset=N_CENTROIDS,
        carry_cols=("cell",),
    )
    codes = codes.cache()
    sub_d = EMB_DIM // PQ_SUB
    # nprobe parameterized for tools/pq_recall.py's probe sweep; the
    # registry always runs the IVFPQ_PROBE default
    qres = (
        ranked.filter(F.col("vec_id") < PQ_N_QUERIES)
        .select(
            "vec_id",
            "v",
            F.explode(F.slice(F.col("__ranked"), 1, nprobe)).alias("__p"),
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("__p.cell").alias("cell"),
            F.zip_with(
                F.col("v"), F.col("__p.cv"), lambda x, y: x - y
            ).alias("qr"),
        )
    )
    qsubs = qres.select(
        "query_id",
        "cell",
        F.posexplode(
            F.array(
                *[F.slice("qr", m * sub_d + 1, sub_d) for m in range(PQ_SUB)]
            )
        ).alias("m", "sv"),
    )
    dtab = (
        qsubs.join(F.broadcast(codebook), "m")
        .withColumn(
            "d",
            _fold_sum(
                F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y))
            ),
        )
        .select("query_id", "cell", "m", "code", "d")
    )
    adist = (
        codes.join(F.broadcast(dtab), ["cell", "m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.expr("cast(sum(cast(d as decimal(28,8))) as double)").alias("adist")
        )
    )
    w_q = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("vec_id").asc()
    )
    adc = adist.withColumn("rank", F.row_number().over(w_q)).filter(
        F.col("rank") <= PQ_TOPK
    )
    nd = F.lit(None).cast("double")
    enc = codes.select(
        F.lit("encode").alias("variant"),
        "vec_id",
        F.col("cell").cast("double").alias("cell"),
        F.col("m").cast("double").alias("m"),
        F.col("code").cast("double").alias("code"),
        nd.alias("query_id"),
        "dist",
        nd.alias("rank"),
    )
    a = adc.select(
        F.lit("adc").alias("variant"),
        "vec_id",
        nd.alias("cell"),
        nd.alias("m"),
        nd.alias("code"),
        F.col("query_id").cast("double").alias("query_id"),
        F.col("adist").alias("dist"),
        F.col("rank").cast("double").alias("rank"),
    )
    return enc.unionByName(a)


def _ivfpq_suite_sql(
    n_sub: int = PQ_SUB,
    k: int = PQ_K,
    dim: int = EMB_DIM,
    n_q: int = PQ_N_QUERIES,
    topk: int = PQ_TOPK,
    n_cells: int = N_CENTROIDS,
    nprobe: int = IVFPQ_PROBE,
) -> str:
    """Same generator discipline as _pq_suite_sql, over residuals,
    with the probed-cell candidate restriction in the ADC join."""
    sub_d = dim // n_sub
    dist = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )
    subs = "\n  UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, r[{m * sub_d + 1}:{(m + 1) * sub_d}] AS sv"
        " FROM res"
        for m in range(n_sub)
    )
    qsubs = "\n  UNION ALL ".join(
        f"SELECT query_id, cell, {m} AS m,"
        f" qr[{m * sub_d + 1}:{(m + 1) * sub_d}] AS sv FROM qres"
        for m in range(n_sub)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < {n_cells}),
ranked AS (
  SELECT e.vec_id, c.cell, e.v, c.cv, row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY {dist.format(a='e.v', b='c.cv')} ASC, c.cell ASC) AS rn
  FROM e, c
),
res AS (
  SELECT vec_id, cell,
         list_transform(list_zip(v, cv), p -> p[1] - p[2]) AS r
  FROM ranked WHERE rn = 1
),
subs AS (
  {subs}
),
seed AS (SELECT m, vec_id - {n_cells} AS code, sv AS cv FROM subs
         WHERE vec_id >= {n_cells} AND vec_id < {n_cells + k}),
asg0 AS (
  SELECT vec_id, m, sv, code FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
    FROM (SELECT s.vec_id, s.m, s.sv, c.code,
                 {dist.format(a='s.sv', b='c.cv')} AS dist
          FROM subs s JOIN seed c USING (m))
  ) WHERE rn = 1
),
cb AS (
  SELECT m, code, list(cval ORDER BY dim) AS cv FROM (
    SELECT m, code, dim,
           cast(sum(cast(val as decimal(28,8))) as double) / count(*) AS cval
    FROM (SELECT m, code, unnest(sv) AS val,
                 generate_subscripts(sv, 1) - 1 AS dim FROM asg0)
    GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
),
codes AS (
  SELECT vec_id, m, code, dist FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
    FROM (SELECT s.vec_id, s.m, c.code,
                 {dist.format(a='s.sv', b='c.cv')} AS dist
          FROM subs s JOIN cb c USING (m))
  ) WHERE rn = 1
),
codesc AS (
  SELECT x.vec_id, r.cell, x.m, x.code, x.dist
  FROM codes x JOIN res r USING (vec_id)
),
qres AS (
  SELECT vec_id AS query_id, cell,
         list_transform(list_zip(v, cv), p -> p[1] - p[2]) AS qr
  FROM ranked WHERE vec_id < {n_q} AND rn <= {nprobe}
),
qsubs AS (
  {qsubs}
),
dtab AS (
  SELECT q.query_id, q.cell, q.m, c.code,
         {dist.format(a='q.sv', b='c.cv')} AS d
  FROM qsubs q JOIN cb c USING (m)
),
ad AS (
  SELECT d.query_id, x.vec_id,
         cast(sum(cast(d.d AS decimal(28,8))) AS double) AS adist
  FROM codesc x JOIN dtab d
    ON d.cell = x.cell AND d.m = x.m AND d.code = x.code
  WHERE x.vec_id <> d.query_id
  GROUP BY 1, 2
),
adc AS (
  SELECT query_id, vec_id, adist, rank FROM (
    SELECT query_id, vec_id, adist, row_number() OVER (
        PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rank
    FROM ad) WHERE rank <= {topk}
)
SELECT 'encode' AS variant, vec_id, CAST(cell AS DOUBLE) AS cell,
       CAST(m AS DOUBLE) AS m, CAST(code AS DOUBLE) AS code,
       CAST(NULL AS DOUBLE) AS query_id, dist,
       CAST(NULL AS DOUBLE) AS rank
FROM codesc
UNION ALL
SELECT 'adc', vec_id, NULL, NULL, NULL, CAST(query_id AS DOUBLE),
       adist, CAST(rank AS DOUBLE)
FROM adc
"""


IVFPQ_SUITE_SQL = _ivfpq_suite_sql()


# --- Incremental SemDeDup (fourth incremental family; r07 candidate) --------

INC_SEM_TAU = 0.4  # same firing threshold as SEMDEDUP_TAU


def incremental_semdedup_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic sibling of ``incremental_{exact,minhash,simhash}_fresh``
    (r04's unit-first debut pattern; registration earmarked for the r07
    window — the r06 window is full, see plans/queries.py): batch 1
    builds the cell index under the shared 16-centroid codebook
    (its own within-batch SemDeDup screen applied), batch 2 — whose
    vec_id%10 ∈ [3,5) slice re-ingests 20% of batch 1's vectors
    verbatim, cosine 1.0, so the cross-batch screen provably fires —
    dedups against the index, and the query returns the ACCRUED index
    (vec_id, cell, ingest_batch).  The oracle replays assignment and
    both NOT EXISTS screens in plain SQL."""
    from ..operators.similarity import incremental_semdedup
    from .extended_queries import INC_B1_LT, INC_B2_GE, INC_OFFSET

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    centroids = emb.filter(F.col("vec_id") < ROUTED_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    b1 = emb.where(F.col("vec_id") % 10 < INC_B1_LT)
    b2 = emb.where(F.col("vec_id") % 10 >= INC_B2_GE).withColumn(
        "vec_id", F.col("vec_id") + F.lit(INC_OFFSET)
    )
    _, delta1 = incremental_semdedup(b1, None, centroids, tau=INC_SEM_TAU)
    # Materialize the batch-1 index once: delta1 feeds BOTH the batch-2
    # screen and the accrued union, and in production the index IS a
    # materialized table between batches — without this the spec
    # recomputes batch 1's assignment + screen twice (measured 3.04s →
    # 2.71s solo min-of-3 at sf0.1; the recompute is cheaper than its
    # plan suggests because the codebook scan dominates both sides).
    delta1 = delta1.localCheckpoint()
    _, delta2 = incremental_semdedup(b2, delta1, centroids, tau=INC_SEM_TAU)
    accrued = delta1.select(
        "vec_id", "cell", F.lit(1).alias("ingest_batch")
    ).unionByName(delta2.select("vec_id", "cell", F.lit(2).alias("ingest_batch")))
    return accrued.orderBy("vec_id")


def _incremental_semdedup_sql() -> str:
    dist = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )
    cos = (
        # lambda params deliberately avoid x/y — those are the outer
        # NOT EXISTS table aliases and DuckDB's binder rejects shadowed
        # lambda parameters
        "list_reduce(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]),"
        " (s, t) -> s + t) / nullif({an} * {bn}, 0)"
    )
    from .extended_queries import INC_B1_LT, INC_B2_GE, INC_OFFSET

    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM e
),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {ROUTED_K}),
b1 AS (SELECT * FROM n WHERE vec_id % 10 < {INC_B1_LT}),
b2 AS (
  SELECT vec_id + {INC_OFFSET} AS vec_id, v, nrm
  FROM n WHERE vec_id % 10 >= {INC_B2_GE}
),
a1 AS (
  SELECT vec_id, v, nrm, cell FROM (
    SELECT b.vec_id, b.v, b.nrm, c.cid AS cell, row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {dist.format(a='b.v', b='c.cv')} ASC, c.cid ASC) AS rn
    FROM b1 b, c) WHERE rn = 1
),
idx1 AS (
  SELECT * FROM a1 x
  WHERE NOT EXISTS (
    SELECT 1 FROM a1 y
    WHERE y.cell = x.cell AND y.vec_id < x.vec_id
      AND {cos.format(a='x.v', b='y.v', an='x.nrm', bn='y.nrm')} >= {INC_SEM_TAU}
  )
),
a2 AS (
  SELECT vec_id, v, nrm, cell FROM (
    SELECT b.vec_id, b.v, b.nrm, c.cid AS cell, row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {dist.format(a='b.v', b='c.cv')} ASC, c.cid ASC) AS rn
    FROM b2 b, c) WHERE rn = 1
),
fresh2 AS (
  SELECT * FROM a2 x
  WHERE NOT EXISTS (
    SELECT 1 FROM idx1 i
    WHERE i.cell = x.cell
      AND {cos.format(a='x.v', b='i.v', an='x.nrm', bn='i.nrm')} >= {INC_SEM_TAU}
  )
  AND NOT EXISTS (
    SELECT 1 FROM a2 y
    WHERE y.cell = x.cell AND y.vec_id < x.vec_id
      AND {cos.format(a='x.v', b='y.v', an='x.nrm', bn='y.nrm')} >= {INC_SEM_TAU}
  )
)
SELECT vec_id, cell, 1 AS ingest_batch FROM idx1
UNION ALL
SELECT vec_id, cell, 2 AS ingest_batch FROM fresh2
ORDER BY vec_id
"""


INCREMENTAL_SEMDEDUP_SQL = _incremental_semdedup_sql()


# --- Incremental PQ dedup (fifth incremental family; the r13 debut) ---------

INC_PQ_THETA = 1.0  # squared-L2 dup radius (below min nonzero pair @ sf0.01)


def incremental_pq_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-index sibling of ``incremental_semdedup_fresh``
    (r13 registry candidate, pre-built unit-first in r08): the
    persisted index holds PQ CODES (n_sub small ints + residuals per
    vector, ~16x smaller than the full vectors the semantic index
    keeps); the cross-batch screen is the triangle-inequality-sound
    ADC bound and exact vectors are fetched only for screen
    survivors, by id.  Same two-batch shape as the other incremental
    specs: batch 1 (vec_id%10 < 5) self-dedups and builds the code
    index; batch 2 (%10 >= 3, ids shifted +1e6 — 20% verbatim
    replicas, which the sound screen PROVABLY catches: x == y gives
    ADC = resid exactly) screens against it.  Returns the accrued
    index identity (vec_id, cell, ingest_batch).  The coarse cells
    and the PQ codebook (full-table train, one decimal-exact Lloyd
    round) are the fixed offline quantizers; the oracle replays
    train, encode, both screens, and the exact verify in SQL."""
    from ..operators.similarity import incremental_pq_dedup, pq_train_encode
    from .extended_queries import INC_B1_LT, INC_B2_GE, INC_OFFSET

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    centroids = emb.filter(F.col("vec_id") < ROUTED_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    _, codebook = pq_train_encode(
        emb, dim=EMB_DIM, n_sub=PQ_SUB, k=PQ_K, n_refine=1
    )
    # the codebook is trained OFFLINE in production — pin it once so
    # neither batch replays the training chain
    codebook = codebook.localCheckpoint()
    b1 = emb.where(F.col("vec_id") % 10 < INC_B1_LT)
    b2 = emb.where(F.col("vec_id") % 10 >= INC_B2_GE).withColumn(
        "vec_id", F.col("vec_id") + F.lit(INC_OFFSET)
    )
    _, delta1 = incremental_pq_dedup(
        b1, None, centroids, codebook, INC_PQ_THETA, dim=EMB_DIM, n_sub=PQ_SUB
    )
    delta1 = delta1.localCheckpoint()
    _, delta2 = incremental_pq_dedup(
        b2,
        delta1,
        centroids,
        codebook,
        INC_PQ_THETA,
        dim=EMB_DIM,
        n_sub=PQ_SUB,
        corpus_lookup=b1,
    )
    accrued = (
        delta1.select("vec_id", "cell")
        .distinct()
        .withColumn("ingest_batch", F.lit(1))
        .unionByName(
            delta2.select("vec_id", "cell")
            .distinct()
            .withColumn("ingest_batch", F.lit(2))
        )
    )
    return accrued.orderBy("vec_id")


def _incremental_pq_sql(
    n_sub: int = PQ_SUB,
    k: int = PQ_K,
    dim: int = EMB_DIM,
    theta: float = INC_PQ_THETA,
) -> str:
    from .extended_queries import INC_B1_LT, INC_B2_GE, INC_OFFSET

    sub_d = dim // n_sub
    # lambda params avoid every table alias in this query (s, x, y,
    # cw, i, b, kk, sc, vv) — DuckDB's binder rejects shadowed
    # lambda parameters (the incremental_semdedup lesson)
    dist = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " pp -> (pp[1] - pp[2]) * (pp[1] - pp[2])), (aa, bb) -> aa + bb)"
    )
    subs = "\n  UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, v[{m * sub_d + 1}:{(m + 1) * sub_d}] AS sv"
        " FROM e"
        for m in range(n_sub)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, zz -> CAST(zz AS DOUBLE)) AS v
  FROM embeddings
),
c AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < {ROUTED_K}),
subs AS (
  {subs}
),
seed AS (SELECT m, vec_id AS code, sv AS cv FROM subs WHERE vec_id < {k}),
asg0 AS (
  SELECT vec_id, m, sv, code FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
    FROM (SELECT s.vec_id, s.m, s.sv, cw.code,
                 {dist.format(a='s.sv', b='cw.cv')} AS dist
          FROM subs s JOIN seed cw USING (m))
  ) WHERE rn = 1
),
cb AS (
  SELECT m, code, list(cval ORDER BY dim) AS cv FROM (
    SELECT m, code, dim,
           cast(sum(cast(val as decimal(28,8))) as double) / count(*) AS cval
    FROM (SELECT m, code, unnest(sv) AS val,
                 generate_subscripts(sv, 1) - 1 AS dim FROM asg0)
    GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
),
cells AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell_id AS cell, row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {dist.format(a='e.v', b='c.cv')} ASC, c.cell_id ASC) AS rn
    FROM e, c) WHERE rn = 1
),
allcodes AS (
  SELECT vec_id, m, code, dist AS resid FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rn
    FROM (SELECT s.vec_id, s.m, cw.code,
                 {dist.format(a='s.sv', b='cw.cv')} AS dist
          FROM subs s JOIN cb cw USING (m))
  ) WHERE rn = 1
),
b1 AS (
  SELECT e.vec_id, e.v, cells.cell FROM e JOIN cells USING (vec_id)
  WHERE e.vec_id % 10 < {INC_B1_LT}
),
b1kept AS (
  SELECT * FROM b1 x WHERE NOT EXISTS (
    SELECT 1 FROM b1 y WHERE y.cell = x.cell AND y.vec_id < x.vec_id
      AND {dist.format(a='x.v', b='y.v')} <= {theta})
),
idx1 AS (
  SELECT kk.vec_id, kk.cell, a.m, a.code, a.resid
  FROM b1kept kk JOIN allcodes a USING (vec_id)
),
b2 AS (
  SELECT e.vec_id + {INC_OFFSET} AS vec_id, e.vec_id AS orig_id, e.v,
         cells.cell
  FROM e JOIN cells USING (vec_id)
  WHERE e.vec_id % 10 >= {INC_B2_GE}
),
b2w AS (
  SELECT * FROM b2 x WHERE NOT EXISTS (
    SELECT 1 FROM b2 y WHERE y.cell = x.cell AND y.vec_id < x.vec_id
      AND {dist.format(a='x.v', b='y.v')} <= {theta})
),
b2subs AS (
  SELECT b.vec_id, b.cell, s.m, s.sv
  FROM b2 b JOIN subs s ON s.vec_id = b.orig_id
),
screen AS (
  SELECT s.vec_id AS xid, i.vec_id AS rid,
         cast(sum(cast({dist.format(a='s.sv', b='cw.cv')}
              AS decimal(28,8))) AS double) AS adc,
         cast(sum(cast(i.resid AS decimal(28,8))) AS double) AS rres
  FROM b2subs s
  JOIN idx1 i ON i.cell = s.cell AND i.m = s.m
  JOIN cb cw ON cw.m = i.m AND cw.code = i.code
  GROUP BY 1, 2
),
verified AS (
  SELECT DISTINCT sc.xid FROM screen sc
  JOIN b2 x ON x.vec_id = sc.xid
  JOIN e y ON y.vec_id = sc.rid
  WHERE sqrt(sc.adc) <= sqrt({theta}) + sqrt(sc.rres)
    AND {dist.format(a='x.v', b='y.v')} <= {theta}
),
kept2 AS (
  SELECT b.vec_id, b.cell FROM b2w b
  WHERE NOT EXISTS (SELECT 1 FROM verified vv WHERE vv.xid = b.vec_id)
)
SELECT vec_id, cell, 1 AS ingest_batch FROM b1kept
UNION ALL
SELECT vec_id, cell, 2 FROM kept2
ORDER BY vec_id
"""


INCREMENTAL_PQ_SQL = _incremental_pq_sql()


# --- Semantic decontamination (third decon family member; r15 debut) --------

SEM_DECON_TAU = 0.4       # = SEMDEDUP_TAU: the fixture's near-dup radius
SEM_DECON_BENCH_MOD = 7   # same stand-in benchmark rule as the fuzzy decon


def corpus_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (r08 unit-first, r15
    registry candidate): corpus vectors whose cosine to ANY benchmark
    vector (stand-in: vec_id % 7 == 0) reaches 0.4 — the
    paraphrase-PROOF member of the decontamination family (exact
    shingles catch verbatim, MinHash catches near-verbatim, this
    catches rewrites).  Map-only over the corpus: the benchmark
    collapses to one broadcast array row and every corpus row scores
    it inside a single higher-order expression — no corpus shuffle,
    no self-join, exact by construction."""
    from ..operators.similarity import decontaminate_semantic

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    bench = emb.filter(F.col("vec_id") % SEM_DECON_BENCH_MOD == 0)
    corp = emb.filter(F.col("vec_id") % SEM_DECON_BENCH_MOD != 0)
    return decontaminate_semantic(corp, bench, tau=SEM_DECON_TAU)


CORPUS_DECONTAMINATE_SEMANTIC_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, zz -> CAST(zz AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_transform(v, xx -> xx * xx),
                          (aa, bb) -> aa + bb)) AS nrm
  FROM e
),
bench AS (
  SELECT vec_id, v, nrm FROM n
  WHERE vec_id % {SEM_DECON_BENCH_MOD} = 0 AND nrm > 0
),
corp AS (
  SELECT vec_id, v, nrm FROM n WHERE vec_id % {SEM_DECON_BENCH_MOD} <> 0
),
cos AS (
  SELECT c.vec_id,
         list_reduce(list_transform(list_zip(c.v, b.v),
                                    pp -> pp[1] * pp[2]),
                     (aa, bb) -> aa + bb) / (c.nrm * b.nrm) AS cosine
  FROM corp c CROSS JOIN bench b
  WHERE c.nrm > 0
),
per_vec AS (
  SELECT vec_id,
         count(CASE WHEN cosine >= {SEM_DECON_TAU} THEN 1 END)
           AS n_bench_hits,
         max(cosine) AS max_cosine
  FROM cos GROUP BY vec_id
)
SELECT c.vec_id,
       CAST(coalesce(p.n_bench_hits, 0) AS BIGINT) AS n_bench_hits,
       CASE WHEN c.nrm > 0 THEN p.max_cosine END AS max_cosine,
       coalesce(p.n_bench_hits, 0) > 0 AS contaminated
FROM corp c LEFT JOIN per_vec p USING (vec_id)
"""


def ann_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index balance report (pre-built r13;
    ``operators/similarity.py:occupancy_balance`` over the registered
    fixed-quantizer assignment): per-cell occupancy plus the Gini /
    max-mean-imbalance / empty-cell summary — the ANN-ops number that
    says whether n_probe cost is predictable BEFORE queries hit a hot
    cell (one broadcast map-only assign).  Scale: one corpus pass, one
    ≤n_cells-row summary; windows only on the bounded cell frame."""
    from ..operators.similarity import (
        _as_double_vec,
        _nearest_packed,
        _pack_rows,
        occupancy_balance,
    )

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    vecs = emb.select("vec_id", _as_double_vec("embedding").alias("v"))
    centroids = vecs.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    packed = F.broadcast(_pack_rows(centroids, "centroid_id", "cv"))
    occ = (
        vecs.crossJoin(packed)
        .select(
            _nearest_packed(
                F.col("v"), F.col("__packed"), "centroid_id", "cv"
            )["id"].alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    full = (
        centroids.select(F.col("centroid_id").alias("bin"))
        .join(F.broadcast(occ), "bin", "left")
        .na.fill({"cnt": 0})
        .cache()
    )
    summary = occupancy_balance(full)
    nl = F.lit(None).cast("long")
    nd_ = F.lit(None).cast("double")
    cells_leg = full.select(
        F.lit("cells").alias("variant"),
        F.col("bin").cast("long").alias("k"),
        F.col("cnt").alias("n"),
        nl.alias("n2"),
        nd_.alias("v1"),
        nd_.alias("v2"),
    )
    sum_leg = summary.select(
        F.lit("summary").alias("variant"),
        nl.alias("k"),
        F.col("n_cells").cast("long").alias("n"),
        F.col("empty_cells").cast("long").alias("n2"),
        F.col("gini").alias("v1"),
        F.col("imbalance").alias("v2"),
    )
    return cells_leg.unionByName(sum_leg)


ANN_BALANCE_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e
      WHERE vec_id < {N_CENTROIDS}),
occ AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT s.vec_id, s.centroid_id AS bin FROM (
      SELECT e.vec_id, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_reduce(list_transform(list_zip(e.v, c.cv),
                     p -> (p[1] - p[2]) * (p[1] - p[2])),
                     (a, b) -> a + b) ASC, c.centroid_id ASC) AS rn
      FROM e, c
    ) s WHERE s.rn = 1
  ) GROUP BY bin
),
dense AS (
  SELECT c.centroid_id AS bin, coalesce(o.cnt, CAST(0 AS BIGINT)) AS cnt
  FROM c LEFT JOIN occ o ON o.bin = c.centroid_id
),
rk AS (
  SELECT bin, cnt,
         CAST(row_number() OVER (ORDER BY cnt ASC, bin ASC) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(cnt) OVER () AS BIGINT) AS tot
  FROM dense
)
SELECT 'cells' AS variant, CAST(bin AS BIGINT) AS k, cnt AS n,
       CAST(NULL AS BIGINT) AS n2,
       CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
FROM dense
UNION ALL
SELECT 'summary', NULL, max(n), sum(CASE WHEN cnt = 0 THEN 1 ELSE 0 END),
       {sql_exact_round(
           "CAST(sum((2 * i - n - 1) * cnt) AS DOUBLE)"
           " / CAST(max(n) * max(tot) AS DOUBLE)", 9)},
       {sql_exact_round(
           "CAST(max(cnt) * max(n) AS DOUBLE) / CAST(max(tot) AS DOUBLE)",
           9)}
FROM rk
"""


def embedding_diversity_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label embedding diversity report (pre-built r13;
    ``operators/similarity.py:diversity_report``): mean pairwise
    cosine over ALL n·(n−1) ordered pairs per group via the
    sum-vector identity ``(||Σu||² − Σ||u||²)/(n(n−1))`` — a pairwise
    corpus-health statistic with ZERO pairwise computation — plus the
    mean cosine-to-centroid ``||Σu||/n`` and the raw-vector covariance
    trace.  A group's number drifting toward 1 is the near-duplicate
    collapse signal a sampling stage reads before drawing.

    Scale: the only exchanges move per-(label,dim) and per-label
    statistics (the posexplode's partial aggregate collapses each
    partition to labels×d rows before its shuffle); the corpus is
    scanned once from cache and never pair-joined."""
    from ..operators.similarity import diversity_report

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    out = diversity_report(emb, group_col="label", vec_col="embedding")
    return out.select(
        F.col("label").cast("bigint").alias("label"),
        "n_vecs",
        "mean_pairwise_cos",
        "mean_cos_centroid",
        "spread",
    )


EMBEDDING_DIVERSITY_SQL = """
WITH e AS (
  SELECT label, list_transform(embedding, zz -> CAST(zz AS DOUBLE)) AS v
  FROM embeddings
),
r AS (
  SELECT label, v,
         list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS sq
  FROM e
),
k AS (
  SELECT label, sq, v,
         list_transform(v, x -> x / sqrt(sq)) AS u
  FROM r WHERE sq > 0
),
ra AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         cast(sum(cast(list_reduce(list_transform(u, x -> x * x),
                                   (a, b) -> a + b)
                       AS decimal(28,8))) AS double) AS usq,
         cast(sum(cast(sq AS decimal(28,8))) AS double) AS vsq
  FROM k GROUP BY label
),
ex AS (
  SELECT label, generate_subscripts(u, 1) - 1 AS dim,
         unnest(u) AS ud, unnest(v) AS vd
  FROM k
),
da AS (
  SELECT label, dim,
         cast(sum(cast(ud AS decimal(28,8))) AS double) AS su,
         cast(sum(cast(vd AS decimal(28,8))) AS double) AS sv
  FROM ex GROUP BY label, dim
),
vv AS (
  SELECT label,
         list(su ORDER BY dim) AS sus,
         list(sv ORDER BY dim) AS svs
  FROM da GROUP BY label
)
SELECT CAST(ra.label AS BIGINT) AS label, ra.n_vecs,
       CASE WHEN ra.n_vecs < 2 THEN NULL
            ELSE (list_reduce(list_transform(vv.sus, x -> x * x),
                              (a, b) -> a + b) - ra.usq)
                 / CAST(ra.n_vecs * (ra.n_vecs - 1) AS DOUBLE)
       END AS mean_pairwise_cos,
       sqrt(list_reduce(list_transform(vv.sus, x -> x * x),
                        (a, b) -> a + b))
         / CAST(ra.n_vecs AS DOUBLE) AS mean_cos_centroid,
       greatest(
         ra.vsq / CAST(ra.n_vecs AS DOUBLE)
           - list_reduce(list_transform(vv.svs,
                  x -> (x / CAST(ra.n_vecs AS DOUBLE))
                       * (x / CAST(ra.n_vecs AS DOUBLE))),
                  (a, b) -> a + b),
         0.0) AS spread
FROM ra JOIN vv USING (label)
"""
