"""Similarity search over embedding columns (array<float>).

Two paths (BASELINE.json north star):

* brute-force top-k cosine — the exactness baseline: broadcast the
  query set, score every (query, candidate) pair with a JVM-side
  fold (zip_with + aggregate — no UDF, no Python), rank per query.
  Linear scan of the corpus per query batch; at 100 TB this is the
  "small query set × huge corpus" shape Spark handles by broadcast +
  map-side scoring with zero shuffle until the final per-query top-k
  (a k-row-per-partition partial followed by one tiny exchange).

* sign-bucket ANN (IVF-flavored) — the scale path: quantize each
  vector to the sign pattern of its leading dimensions (a fixed
  hyperplane codebook), join query↔candidate on the bucket key, and
  rank within buckets only.  Recall trades against the number of sign
  bits; the join is a hash join on a short string key.

Numerical determinism: the dot-product fold is a strict left fold
starting at 0.0, matching DuckDB's list_reduce semantics, so scores
are bitwise identical across engines and ranks never disagree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import spread_scan


def _as_double_vec(col: Column | str = "embedding") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _fold_sum(arr: Column) -> Column:
    """Strict left fold sum (0.0 + x1 + x2 + ...) — order-exact."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _sq_dist(a: Column, b: Column) -> Column:
    """Strict-left-fold squared L2 — the one distance expression every
    assignment/screen here shares (bitwise equal to the DuckDB oracle's
    ``list_reduce(list_transform(list_zip(a, b), ...), ...)``)."""
    return _fold_sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def _pack_rows(
    df: DataFrame, *cols: str | Column, alias: str = "__packed"
) -> DataFrame:
    """ONE-ROW frame holding the (bounded) input as a sorted array of
    structs — the zero-shuffle quantizer transport (r11): instead of
    broadcast-joining k quantizer ROWS against the batch and arg-
    minning with a window (one batch-keyed sort exchange per argmin),
    the k rows ride to every task as a single broadcast array and the
    argmin becomes a per-row ``array_min(transform(...))`` expression —
    map-only, no exchange, no sort, which is exactly how a production
    PQ/IVF encoder ships its codebook.  ``array_sort`` pins a
    deterministic element order (first struct field is a unique id in
    every caller); the order is load-bearing only for plan stability —
    ``array_min`` is order-insensitive.  Bounded-side contract: callers
    pack QUANTIZERS (centroid sets, PQ codebooks — planner-sized at any
    corpus scale), never data."""
    return df.agg(
        F.array_sort(F.collect_list(F.struct(*cols))).alias(alias)
    )


def _nearest_packed(vec: Column, packed: Column, id_field: str, vec_field: str) -> Column:
    """Argmin over a packed quantizer array: returns the struct
    ``(dist, id)`` of the nearest element under (dist asc, id asc) —
    the tie-break every window form here used, now as one expression
    (struct comparison is lexicographic, and ids are unique)."""
    return F.array_min(
        F.transform(
            packed,
            lambda c: F.struct(
                _sq_dist(vec, c[vec_field]).alias("dist"),
                c[id_field].alias("id"),
            ),
        )
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double_vec(vec_col)
    return df.withColumn("v", v).withColumn(
        "norm", F.sqrt(_fold_sum(F.transform(F.col("v"), lambda x: x * x)))
    )


def cosine(v_a: Column, v_b: Column, norm_a: Column, norm_b: Column) -> Column:
    dot = _fold_sum(F.zip_with(v_a, v_b, lambda x, y: x * y))
    # try_divide: zero-norm vectors give NULL (ranked last) in both
    # engines instead of an ANSI-mode divide-by-zero throw.
    return F.try_divide(dot, norm_a * norm_b)


def brute_force_topk(
    df: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_pred: Column | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Query side is broadcast (small by construction); candidates stream
    through map-side scoring.  Ties break on candidate id, so results
    are total-order deterministic."""
    base = with_norm(df, vec_col)
    if query_pred is None:
        query_pred = F.col(id_col).isin(query_ids)
    q = base.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    c = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            cosine(F.col("qv"), F.col("cv"), F.col("qnorm"), F.col("cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def kmeans(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
) -> DataFrame:
    """Lloyd's k-means over an embedding column: deterministic seeds
    (first k vectors by id), n_iter assign/update rounds, returns
    (id, cell) assignments.

    Each iteration is two distributed jobs — broadcast-scored
    assignment and a (cell, dim)-keyed mean — with the assignment
    cached per round so the next update doesn't replay the chain.
    The single-iteration, oracle-checked variant is
    plans/graph_queries.kmeans_refine."""
    from pyspark.sql import Window

    vecs = df.select(F.col(id_col), _as_double_vec(vec_col).alias("v")).cache()
    centroids = (
        vecs.orderBy(id_col)
        .limit(k)
        .select(
            # un-partitioned window over the k-row seed table only —
            # bounded by construction, never the full vector set
            F.row_number().over(Window.orderBy(id_col)).alias("centroid_id"),
            F.col("v").alias("cv"),
        )
    )

    assigned = None
    for _ in range(n_iter):
        # packed-quantizer assignment (r11, see _pack_rows): map-only
        # per-row argmin instead of crossJoin + row_number — one fewer
        # id-keyed sort exchange PER ITERATION, same (dist asc, cid
        # asc) tie-break and fold doubles, so cells are bit-identical.
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
            .select(id_col, "v", F.col("__best.id").alias("centroid_id"))
            .cache()
        )
        centroids = (
            assigned.select("centroid_id", F.posexplode("v").alias("dim", "val"))
            .groupBy("centroid_id", "dim")
            .agg(F.avg("val").alias("cval"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                    lambda s: s["cval"],
                ).alias("cv")
            )
        )
    return assigned.select(F.col(id_col), F.col("centroid_id").alias("cell"))


def pq_train_encode(
    df: DataFrame,
    dim: int,
    n_sub: int = 4,
    k: int = 8,
    n_refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_offset: int = 0,
    carry_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Product quantization (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011): split each ``dim``-d vector
    into ``n_sub`` equal subspaces, train a ``k``-codeword codebook
    per subspace (seeds = the first ``k`` ids' subvectors, then
    ``n_refine`` Lloyd rounds with decimal(28,8)-exact means so the
    codebook is bit-reproducible), and encode every vector as its
    nearest codeword id per subspace.

    Returns ``(codes, codebook)``:

    * ``codes``    — ``(id_col, m, code, dist)``, ``n_sub`` rows per
      vector; ``dist`` is the squared-L2 quantization error of
      subspace ``m`` (the per-subspace reconstruction residual).
    * ``codebook`` — ``(m, code, cv)``, the trained codewords.
      Codewords that capture no vectors in the final refine round
      drop out on both engines (groupBy produces no row for them).

    ``seed_offset`` shifts the seed id window to
    ``[seed_offset, seed_offset + k)`` — callers quantizing IVF
    RESIDUALS must skip the coarse-centroid ids, whose residuals to
    themselves are zero vectors (k identical seeds would collapse
    the codebook to one effective codeword).

    ``carry_cols`` rides extra per-row columns (e.g. the owning IVF
    cell) through the explode into ``codes``, so callers never need
    an n-to-n re-join on ``id_col`` to get them back — that join
    would be a full shuffle the carry makes free.

    100 TB shape: the codebook is ``n_sub * k`` rows — broadcast
    everywhere it is used, so training is ``n_refine + 1`` map-side
    scored passes over the exploded ``(id, m, sv)`` frame plus one
    (m, code, dim)-keyed mean shuffle per refine round; encode is one
    more broadcast pass.  Nothing is ever all-pairs, and executor
    memory is O(n_sub * k * dim / n_sub) = O(k * dim).  The exploded
    frame is cached once and reused by every pass.

    Cache lifetime contract (ADVICE r08): that internal cache stays
    pinned until the caller clears it — it cannot be unpersisted
    before return because nothing has materialized yet under lazy
    evaluation.  Looping callers (streaming foreachBatch, repeated
    re-trains in one session) must ``spark.catalog.clearCache()``
    per iteration; the packaged ingest loop already does.
    """
    if dim % n_sub:
        raise ValueError(f"dim={dim} not divisible by n_sub={n_sub}")
    sub_d = dim // n_sub

    # compute-dense broadcast-scoring passes follow; spread an
    # under-split scan so they use the whole cluster (guide §2.5 —
    # no-op once the scan plans >= defaultParallelism splits)
    vecs = spread_scan(
        df.select(F.col(id_col), _as_double_vec(vec_col).alias("v"), *carry_cols)
    )
    subs = vecs.select(
        id_col,
        *carry_cols,
        F.posexplode(
            F.array(*[F.slice("v", m * sub_d + 1, sub_d) for m in range(n_sub)])
        ).alias("m", "sv"),
    ).cache()

    def nearest(cb: DataFrame) -> DataFrame:
        # packed-codebook argmin (r11): the bounded codebook rides as
        # one broadcast array row and the per-(row, subspace) nearest
        # codeword is an expression — map-only, replacing the former
        # broadcast join + row_number window (a (id, m)-keyed sort
        # exchange per pass).  Same (dist asc, code asc) tie-break,
        # same strict-left-fold doubles — codes are bit-identical.  A
        # subspace with no codeword packs an empty array, whose min is
        # NULL: that (row, subspace) gets no code, as under the
        # oracle's inner join on m.
        best = F.array_min(
            F.transform(
                F.filter(F.col("__packed"), lambda c: c["m"] == F.col("m")),
                lambda c: F.struct(
                    _sq_dist(F.col("sv"), c["cv"]).alias("dist"),
                    c["code"].alias("code"),
                ),
            )
        )
        return (
            subs.crossJoin(F.broadcast(_pack_rows(cb, "m", "code", "cv")))
            .withColumn("__best", best)
            .where(F.col("__best").isNotNull())
            .select(
                id_col,
                *carry_cols,
                "m",
                "sv",
                F.col("__best.code").alias("code"),
                F.col("__best.dist").alias("dist"),
            )
        )

    codebook = subs.filter(
        (F.col(id_col) >= seed_offset) & (F.col(id_col) < seed_offset + k)
    ).select(
        "m", (F.col(id_col) - seed_offset).alias("code"), F.col("sv").alias("cv")
    )
    for _ in range(n_refine):
        assigned = nearest(codebook)
        codebook = (
            assigned.select("m", "code", F.posexplode("sv").alias("dim", "val"))
            .groupBy("m", "code", "dim")
            .agg(
                (
                    F.expr("cast(sum(cast(val as decimal(28,8))) as double)")
                    / F.count(F.lit(1))
                ).alias("cval")
            )
            .groupBy("m", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                    lambda s: s["cval"],
                ).alias("cv")
            )
        )
    codes = nearest(codebook).select(id_col, *carry_cols, "m", "code", "dist")
    return codes, codebook


def pq_adc_topk(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric distance computation (ADC) search over PQ codes:
    each query's exact subvectors are scored against every codeword
    once (a ``n_queries * n_sub * k``-row distance table — tiny,
    broadcast), then approximate distance to a database vector is the
    sum of its codes' table entries.  The corpus is never touched
    beyond its codes — the whole point of PQ at 100 TB: the scan reads
    ``n_sub`` small ints per vector instead of ``dim`` floats.

    ``queries`` must be ``(query_id, m, sv)`` (exact subvectors, e.g.
    a filtered slice of the training explode).  Returns
    ``(query_id, id_col, adist, rank)`` with rank 1..k per query by
    (adist asc, id asc); the query's own row is excluded.  The
    per-subspace lookups are broadcast map-side joins; the only
    shuffle is the (query_id, id)-keyed sum, decimal(28,8)-exact so
    ranking ties are bit-stable across engines.
    """
    from pyspark.sql import Window

    dtab = (
        queries.join(F.broadcast(codebook), "m")
        .withColumn(
            "d",
            _fold_sum(
                F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y))
            ),
        )
        .select("query_id", "m", "code", "d")
    )
    adist = (
        codes.join(F.broadcast(dtab), ["m", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(
            F.expr("cast(sum(cast(d as decimal(28,8))) as double)").alias("adist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col(id_col).asc()
    )
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "adist", "rank")
    )


def pq_rerank_topk(
    shortlist: DataFrame,
    vecs: DataFrame,
    query_vecs: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact re-ranking of a PQ ADC shortlist — the refine stage of
    the standard two-stage retrieval (FAISS's IndexRefineFlat over
    IVFPQ): quantized distances screen the corpus cheaply, then the
    top-R survivors' EXACT vectors are read and re-scored, and only
    the re-ranked top-k is returned.  On near-i.i.d. data where ADC
    rank order is noisy this recovers most of the lost recall for R
    ≈ 10k (measured in SCALE.md).

    ``shortlist`` is pq_adc_topk's output (query_id, id, adist,
    rank); ``vecs`` / ``query_vecs`` are (id, v) / (query_id, qv)
    exact double vectors.  100 TB shape: the shortlist is R rows per
    query — it broadcasts into the corpus-side join, so the exact
    vectors are read for R*n_queries rows only, never the corpus."""
    from pyspark.sql import Window

    cand = shortlist.select("query_id", id_col)
    exact = (
        vecs.join(F.broadcast(cand), id_col)
        .join(F.broadcast(query_vecs), "query_id")
        .withColumn(
            "dist",
            _fold_sum(
                F.zip_with(F.col("v"), F.col("qv"), lambda x, y: (x - y) * (x - y))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "dist", "rank")
    )


def ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k search — the scale path
    that completes the `ivf_assign` coarse quantizer with an actual
    probe-limited search:

    1. every corpus vector is assigned to its nearest seed centroid
       (the inverted lists; one broadcast-scored pass),
    2. each query probes its ``nprobe`` nearest centroids,
    3. exact cosine runs only against candidates in the probed cells,
    4. per-query top-k with deterministic (cosine desc, id asc) ties.

    With ``nprobe == n_centroids`` every cell is probed and the result
    equals `brute_force_topk` — the recall knob is explicit (unit
    tested).  Scale shape: centroid scoring is map-side (broadcast
    codebook, no shuffle); the probe→cell join is a hash join on the
    cell id whose probe side is ``queries × nprobe`` rows (broadcast);
    candidate scoring touches ``nprobe/n_centroids`` of the corpus
    instead of all of it.  Cells are disjoint so no cross-cell dedup
    is needed."""
    base = with_norm(df, vec_col)
    centroids = base.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col("v").alias("cv")
    )
    scored = F.broadcast(centroids).crossJoin(base).withColumn(
        "dist",
        _fold_sum(F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y))),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("dist").asc(), F.col("centroid_id").asc()
    )
    ranked = scored.withColumn("crn", F.row_number().over(w))
    cells = ranked.filter(F.col("crn") == 1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv2"),
        F.col("norm").alias("cnorm"),
        F.col("centroid_id").alias("cell"),
    )
    probes = ranked.filter(
        F.col(id_col).isin(query_ids) & (F.col("crn") <= nprobe)
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("centroid_id").alias("cell"),
    )
    cand = (
        F.broadcast(probes)
        .join(cells, ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            cosine(F.col("qv"), F.col("cv2"), F.col("qnorm"), F.col("cnorm")),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "cosine", "rank")
    )


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """IVF-ish coarse quantizer: '1'/'0' per sign of the first
    ``bits`` dimensions.  Sign of a float is exact → engine-portable."""
    return F.concat(
        *[
            F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits)
        ]
    )


def ann_sign_bucket_topk(
    df: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket.  One hash join on the bucket key + per-bucket ranking —
    the 100 TB path (bucket sizes ~ corpus/2^bits)."""
    base = with_norm(df, vec_col).withColumn(
        "bucket", sign_bucket(F.col("v"), bits)
    )
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "bucket",
    )
    c = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "bucket",
    )
    scored = (
        F.broadcast(q)
        .join(c, ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            cosine(F.col("qv"), F.col("cv"), F.col("qnorm"), F.col("cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "bucket", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk_arrow(
    df: DataFrame,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Arrow-batched twin of ``brute_force_topk``: queries are
    collected into a dense numpy matrix (they're small by
    construction — the broadcast side), and each mapInPandas batch
    scores ALL queries against its candidate rows with one BLAS
    matmul instead of per-element fold expressions.

    When to prefer which (measured intuition, documented for the
    100 TB case): the JVM fold wins at dim ≲ 100 (no Python/Arrow
    boundary at all); the matmul path wins as dim and query count
    grow — O(batch × dim × queries) in one vectorized kernel vs one
    codegen'd loop per (row, query) pair — and is the template every
    real embedding-scoring pipeline (dim 768+, thousands of queries)
    uses on Spark.  Top-k per query still runs JVM-side (the same
    bounded per-query window as the fold path), so ONLY raw scores
    cross the Arrow boundary.

    Ranks are identical to brute_force_topk up to float-sum ordering:
    numpy's pairwise-summed dot differs from the strict left fold in
    the last ulp, so ranking ties may legitimately differ — the unit
    test asserts rank agreement on well-separated data and score
    agreement to 1e-9 everywhere."""
    import numpy as np
    import pandas as pd

    q_rows = (
        df.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)  # (nq, dim)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    out_schema = "query_id long, neighbor_id long, cosine double"

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batch: (0,)-shaped matmul breaks
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            denom = np.outer(c_norm, q_norm)  # 0 exactly for zero-norm vectors
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.divide(c_mat @ q_mat.T, denom, where=denom != 0)
            nc, nq = sims.shape
            # Zero-norm vectors must come back as SQL NULL (ranked last by
            # the DESC window, same as the fold twin's try_divide), not
            # NaN — Spark orders NaN above every number (ADVICE r03).
            cos = pd.array(sims.T.ravel(), dtype="Float64")
            cos[np.asarray(denom == 0).T.ravel()] = pd.NA
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, nc),
                    "neighbor_id": np.tile(ids, nq),
                    "cosine": cos,
                }
            )

    scored = df.select(id_col, vec_col).mapInPandas(score, out_schema)
    scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# Production knob derivation — sf0.5 sweep, SCALE.md "Round-7
# rehearsal": on the worst-case
# near-isotropic corpus at k=100/n_super=10, the EXACT two-stage
# assignment (n_probe = n_super, untrained) is 2.35× cheaper than the
# flat n·k scan at recall 1.0 — the win is the plan shape (two narrow
# row_number windows instead of one n·k-wide one), not the
# approximation.  Approximating (n_probe < n_super) only starts
# paying once level-2 work dominates, around n_super ≳ 100; there,
# one Lloyd round + probing 80% of supers measured pair recall 0.96
# at the isotropic floor (clustered corpora reach it far earlier).
ROUTED_EXACT_MAX_SUPERS = 32
ROUTED_PROBE_FRACTION = 0.8
ROUTED_TRAIN_SUPERS = 1


def routed_defaults(n_super: int) -> dict:
    """Recommended ``two_level_assign`` knobs for a given coarse-level
    size, derived from the measured recall/cost curve (SCALE.md r07):
    exact two-stage while the super count is small enough that probing
    everything is still ~2× cheaper than flat; beyond that, trained
    supers + 80%-probe for measured recall ≥0.96.  ``exact_means``
    stays True so the trained path remains engine-reproducible for
    oracle-paired specs."""
    import math

    if n_super <= ROUTED_EXACT_MAX_SUPERS:
        return {"n_probe": n_super, "train_supers": 0, "exact_means": True}
    return {
        "n_probe": math.ceil(ROUTED_PROBE_FRACTION * n_super),
        "train_supers": ROUTED_TRAIN_SUPERS,
        "exact_means": True,
    }


def two_level_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cv",
    n_super: int | None = None,
    n_probe: int = 2,
    train_supers: int = 0,
    exact_means: bool = False,
) -> DataFrame:
    """Coarse-routed (two-level) centroid assignment — the sub-n·k
    path the sf0.5 SemDeDup rehearsal points at.  Flat broadcast
    assignment costs n·k distance evaluations; once k tracks sqrt(n)
    (the SemDeDup cell rule) that is n^1.5 total work.  Routing
    through a coarse level cuts it to ≈ n·(√k + n_probe·√k):

    1. the first ``n_super`` centroids (by id — the deterministic
       seed convention used everywhere here) become SUPER-centroids,
       optionally refined by ``train_supers`` Lloyd rounds over the
       CENTROID SET (k rows — trivially cheap, and it matters:
       measured on the 10-cluster 64-dim corpus at k=45, trained
       supers lift exact-assignment agreement from 0.36/0.51/0.65 to
       0.46/0.69/0.82 at n_probe=1/2/3); every centroid is grouped
       under its nearest super (k×n_super work);
    2. each vector routes to its ``n_probe`` nearest supers
       (n·n_super, broadcast scored), then scores ONLY those supers'
       centroid groups (n·n_probe·k/n_super expected, one broadcast
       join on super_id).  Measured at n=10K/k=100: ~1.5s routed vs
       6.5s flat, cost nearly flat in n_probe.

    With ``n_super = ceil(sqrt(k))`` both levels cost n·sqrt(k).
    Recall caveat: coarse routing needs coarse STRUCTURE — on
    near-isotropic vectors distance concentration defeats any
    quantizer and agreement stays mediocre at small n_probe; raise
    n_probe (cost grows sublinearly) or train supers.  Trained super
    means default to double averages (fine for a router — the final
    within-group argmin is what decides); ``exact_means=True`` switches
    to the decimal(28,8)-exact per-dimension means ``kmeans_refine``
    uses, making the trained path engine-reproducible for an
    oracle-paired registry spec (``routed_assign_embeddings``).
    APPROXIMATE by construction: a vector whose true nearest centroid
    lives under a different super mis-assigns (recall measured in
    tests; exactness returns when ``n_super == k`` since every
    centroid is then its own super and level 2 degenerates to the
    flat scan of a 1-centroid group... with level 1 doing the real
    work).  Every step is deterministic (dist asc, id asc ties), so
    the operator is SQL-oracle-able for a future registry slot.

    Returns (id_col, cell) like ``kmeans`` — drop-in for the SemDeDup
    assignment stage.  100 TB shape: two broadcast joins (supers ≈
    sqrt(k) rows, grouped centroids k rows — megabytes at k=10^4),
    zero shuffles before the caller's per-cell work."""
    import math

    # the level-1 routing pass scores n_super supers per vector inside
    # the scan stage — spread an under-split scan first (guide §2.5;
    # no-op at scale)
    vecs = spread_scan(
        df.select(F.col(id_col), _as_double_vec(vec_col).alias("v"))
    )
    cents = centroids.select(
        F.col(centroid_id_col).alias("__cid"),
        _as_double_vec(centroid_vec_col).alias("__cv"),
    )
    if n_super is None:
        k = cents.count()  # centroid table: bounded, planner-sized pull
        n_super = max(1, math.ceil(math.sqrt(k)))

    sq = lambda a, b: _fold_sum(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    )

    # level-0: the first n_super centroids by id are the supers
    w_seed = Window.orderBy("__cid")
    supers = (
        cents.withColumn("__srn", F.row_number().over(w_seed))
        .filter(F.col("__srn") <= n_super)
        .select(F.col("__cid").alias("__sid"), F.col("__cv").alias("__sv"))
    )
    w_c = Window.partitionBy("__cid").orderBy(
        F.col("__sdist").asc(), F.col("__sid").asc()
    )
    # optional: refine the supers with Lloyd rounds over the centroid
    # set only (k rows per round — never touches the vectors)
    mean_of_val = (
        # decimal-exact per-dimension mean: bit-identical across
        # engines, same pattern as kmeans_refine (needed when the
        # trained path feeds an oracle-paired spec)
        F.expr("cast(sum(cast(__val as decimal(28,8))) as double)")
        / F.count(F.lit(1))
        if exact_means
        else F.avg("__val")
    )
    for _ in range(train_supers):
        asg = (
            F.broadcast(supers)
            .crossJoin(cents)
            .withColumn("__sdist", sq(F.col("__cv"), F.col("__sv")))
            .withColumn("__rn", F.row_number().over(w_c))
            .filter(F.col("__rn") == 1)
            .select("__sid", "__cv")
        )
        supers = (
            asg.select("__sid", F.posexplode("__cv").alias("__dim", "__val"))
            .groupBy("__sid", "__dim")
            .agg(mean_of_val.alias("__m"))
            .groupBy("__sid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__dim", "__m"))),
                    lambda s: s["__m"],
                ).alias("__sv")
            )
        )
    # group every centroid under its nearest super (k × n_super)
    grouped = (
        F.broadcast(supers)
        .crossJoin(cents)
        .withColumn("__sdist", sq(F.col("__cv"), F.col("__sv")))
        .withColumn("__rn", F.row_number().over(w_c))
        .filter(F.col("__rn") == 1)
        .select("__sid", "__cid", "__cv")
    )
    # level-1: route each vector to its ``n_probe`` nearest LIVE
    # supers — the IVF-nprobe recall knob: a vector whose true
    # centroid lives under the SECOND-nearest super (common near
    # super boundaries) is still recovered; cost grows only by the
    # extra probed groups (measured at n=10K/k=100: n_probe=1 agrees
    # with the exact assignment on 33% of vectors, n_probe=2/3 climbs
    # steeply while staying far below the flat n·k scan).
    # LIVE = owning ≥1 centroid: a trained super can end up with an
    # empty group, and a vector probing only empty supers would join
    # nothing and silently VANISH from the assignment — restricting
    # routing to live supers makes totality structural (r06; with
    # untrained seed supers every super owns at least itself, so this
    # is a no-op there).
    live = grouped.select("__sid").distinct()
    # both sides are <= n_super rows; without the hint Spark plans a
    # sort-merge semi join (two needless sorts on a 16-row frame)
    supers_live = supers.join(F.broadcast(live), "__sid", "left_semi")
    # NOTE (r11 A/B, rejected): a packed-array form (both router
    # tables as one broadcast array row, route-then-scan as per-row
    # expressions) was measured 1.9 → 3.2s solo on ann_assign_suite
    # at sf0.1 and reverted — the probe list is referenced per
    # grouped element inside the filter lambda and Catalyst performs
    # no common-subexpression elimination inside higher-order
    # lambdas, so the per-row super ranking re-evaluated O(k) times.
    # The window form's exchange also doubles as the ReusedExchange
    # point its consumers share.  See SCALE.md round-11.
    w_v = Window.partitionBy(id_col).orderBy(
        F.col("__sdist").asc(), F.col("__sid").asc()
    )
    routed = (
        F.broadcast(supers_live)
        .crossJoin(vecs)
        .withColumn("__sdist", sq(F.col("v"), F.col("__sv")))
        .withColumn("__rn", F.row_number().over(w_v))
        .filter(F.col("__rn") <= n_probe)
        .select(id_col, "v", "__sid")
    )
    # level-2: exact scan of the routed super's centroid group only
    w_f = Window.partitionBy(id_col).orderBy(
        F.col("__dist").asc(), F.col("__cid").asc()
    )
    return (
        routed.join(F.broadcast(grouped), "__sid")
        .withColumn("__dist", sq(F.col("v"), F.col("__cv")))
        .withColumn("__rn", F.row_number().over(w_f))
        .filter(F.col("__rn") == 1)
        .select(F.col(id_col), F.col("__cid").alias("cell"))
    )


def semdedup_prune(
    df: DataFrame,
    pairs: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "cosine",
) -> DataFrame:
    """SemDeDup's FINAL step (Abbas et al. 2023): given mined
    within-cell near-dup pairs, produce the PRUNED corpus — drop
    every item that is the higher id of some pair scoring >= tau,
    keep everything else.  Matches the paper's keep-lowest-index rule
    deterministically: an item survives iff no lower-id item sits
    within tau of it in its cell (chains a~b~c with a<b<c drop both
    b and c — the standard greedy transitive behavior).

    Composes with either pair miner (``semdedup_pairs`` seed variant
    or the trained-centroid path).  100 TB shape: the drop set is
    |qualifying pairs| ids after a distinct — one short anti join
    against the corpus, no new quadratic work; all the heavy lifting
    already happened cell-bounded in the miner."""
    drop = (
        pairs.where(F.col(score_col) >= tau)
        .select(F.col(id_b).alias(id_col))
        .distinct()
    )
    # the drop set is bounded by the mined pair count (topk per cell),
    # orders of magnitude under the corpus — broadcast it so the anti
    # join never shuffles the corpus side
    return df.join(F.broadcast(drop), id_col, "left_anti")


def decontaminate_semantic(
    corpus_vecs: DataFrame,
    bench_vecs: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC benchmark decontamination: flag every corpus vector
    whose cosine similarity to ANY benchmark vector reaches ``tau`` —
    the embedding-space member of the decontamination family (exact
    shared-shingle ``corpus.decontaminate``, MinHash-LSH
    ``corpus.decontaminate_fuzzy``), catching eval material that was
    REWRITTEN before entering the corpus: n-gram and near-dup
    detectors see disjoint surface text, but the embeddings still
    collide.

    Output: one row per corpus vector —
    ``(id, n_bench_hits, max_cosine, contaminated)`` where
    ``n_bench_hits`` counts benchmark vectors at cosine >= tau,
    ``max_cosine`` is the best score over the whole benchmark (NULL
    for a zero-norm corpus vector, which matches nothing — the
    semdedup zero-norm contract), and ``contaminated`` is
    ``n_bench_hits > 0``.

    100 TB shape — MAP-ONLY over the corpus: the benchmark side (eval
    suites: thousands of vectors, not billions) collapses to a SINGLE
    broadcast row holding an array of (id, unit-denominator, vector)
    structs; each corpus row then scores the whole benchmark inside
    one higher-order-function expression (whole-stage codegen, no
    Python), so the corpus is never shuffled, never self-joined, and
    never grouped — the plan is scan → project.  EXACT by
    construction: unlike a cell-routed screen (measured 4/13 recall
    at nprobe=1 on i.i.d. embeddings), nothing within tau is ever
    missed.  If the benchmark outgrows broadcast range, shard it and
    OR the per-shard flags — same map-only shape per shard.
    """
    bench = with_norm(
        bench_vecs.select(F.col(id_col), F.col(vec_col)), vec_col
    ).filter(F.col("norm") > 0)
    bench_row = bench.agg(
        F.collect_list(
            F.struct(F.col("v").alias("bv"), F.col("norm").alias("bnrm"))
        ).alias("__bench")
    )
    corp = with_norm(corpus_vecs.select(F.col(id_col), F.col(vec_col)), vec_col)
    # Compute-dense map: the scoring work is O(|corpus| x |bench| x d)
    # over byte-small rows, so a corpus that arrives in fewer splits
    # than the session has cores (one tiny parquet file at test SFs)
    # would serialize 915M FMAs onto one thread (measured 81s -> ~4s
    # at sf0.5).  Round-robin the raw (id, vector) rows up to the
    # session parallelism — negligible bytes relative to the compute
    # it unlocks.  At 100 TB the scan is naturally many-partitioned
    # and this branch never fires, keeping the plan map-only.
    parallelism = corpus_vecs.sparkSession.sparkContext.defaultParallelism
    if corp.rdd.getNumPartitions() < parallelism:
        corp = corp.repartition(parallelism)
    cos_arr = F.transform(
        F.col("__bench"),
        lambda b: _fold_sum(F.zip_with(F.col("v"), b["bv"], lambda x, y: x * y))
        / (F.col("norm") * b["bnrm"]),
    )
    live = F.col("norm") > 0
    # materialize the cosine array ONCE per corpus row: deriving the
    # three outputs from the same higher-order expression would
    # re-score the whole benchmark 3x (no CSE across HOF projections
    # — measured 3x wall at sf0.5)
    scored = corp.crossJoin(F.broadcast(bench_row)).select(
        F.col(id_col), live.alias("__live"), cos_arr.alias("__cos")
    )
    hits = F.size(F.filter(F.col("__cos"), lambda c: c >= F.lit(tau)))
    return scored.select(
        F.col(id_col),
        F.when(F.col("__live"), hits.cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("n_bench_hits"),
        F.when(F.col("__live"), F.array_max(F.col("__cos"))).alias(
            "max_cosine"
        ),
        F.when(F.col("__live"), hits > 0)
        .otherwise(F.lit(False))
        .alias("contaminated"),
    )


def diversity_report(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding diversity report WITHOUT pairwise work.

    For each group, reports over the unit-normalized vectors
    ``u_i = v_i / ||v_i||`` (zero-norm vectors are excluded — they
    carry no direction):

    * ``n_vecs`` — group size after the zero-norm drop;
    * ``mean_pairwise_cos`` — the mean cosine over ALL ``n·(n−1)``
      ordered pairs, via the sum-vector identity
      ``(||Σu||² − Σ||u||²) / (n·(n−1))`` — a pairwise statistic
      computed with ZERO pairwise joins (NULL for singleton groups);
    * ``mean_cos_centroid`` — mean cosine to the group's mean
      direction: ``Σ_i u_i·(S/||S||) / n  =  ||S|| / n``, the
      "concentration" twin of the pairwise number;
    * ``spread`` — trace of the RAW-vector covariance,
      ``Σ||v||²/n − ||mean_v||²``: the scale-carrying complement
      (cosine stats are scale-blind).

    Low ``mean_pairwise_cos`` = a diverse (well-spread) group; a value
    near 1 flags near-duplicate collapse — the corpus-health signal a
    training-data pipeline reads before sampling.

    Cross-engine exactness: every per-row term (norms, ``||u||²``) is
    a strict left fold over identical doubles; per-dimension and
    per-row sums accumulate as decimal(28,8) before ONE double cast,
    and the finishing arithmetic is single IEEE ops on identical
    inputs — bitwise equal to the DuckDB oracle.

    100 TB shape: one cached narrow projection feeds (a) a per-row
    aggregate (groups rows) and (b) a posexplode whose per-(group,dim)
    partial aggregate collapses each partition to groups×d rows BEFORE
    its exchange — the shuffle moves statistics, never the corpus; the
    two tiny aggregates then meet in a broadcast join.  No pairwise
    expansion exists anywhere in the plan.

    Caveat: rows with a NULL ``group_col`` drop out at the final join
    (inner join on the group key — identical semantics in the DuckDB
    oracle's USING join); pre-coalesce to a sentinel if the NULL group
    should be reported.
    """
    base = (
        df.select(
            F.col(group_col).alias("grp"),
            _as_double_vec(vec_col).alias("__v"),
        )
        .withColumn("__sq", _fold_sum(F.transform("__v", lambda x: x * x)))
        .where(F.col("__sq") > 0)
        .withColumn(
            "__u",
            F.transform(
                "__v", lambda x: x / F.sqrt(F.col("__sq"))
            ),
        )
        .cache()
    )
    row_agg = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.expr(
            "cast(sum(cast(aggregate(transform(__u, x -> x * x),"
            " cast(0.0 as double), (acc, x) -> acc + x)"
            " as decimal(28,8))) as double)"
        ).alias("__usq"),
        F.expr(
            "cast(sum(cast(__sq as decimal(28,8))) as double)"
        ).alias("__vsq"),
    )
    dim_agg = (
        base.select(
            "grp",
            F.posexplode("__u").alias("dim", "__ud"),
            F.col("__v").alias("__vrow"),
        )
        .select(
            "grp", "dim", "__ud", F.expr("__vrow[dim]").alias("__vd")
        )
        .groupBy("grp", "dim")
        .agg(
            F.expr(
                "cast(sum(cast(__ud as decimal(28,8))) as double)"
            ).alias("__su"),
            F.expr(
                "cast(sum(cast(__vd as decimal(28,8))) as double)"
            ).alias("__sv"),
        )
    )
    vecs = dim_agg.groupBy("grp").agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "__su", "__sv"))
        ).alias("__s")
    ).select(
        "grp",
        F.transform("__s", lambda s: s["__su"]).alias("__sus"),
        F.transform("__s", lambda s: s["__sv"]).alias("__svs"),
    )
    n_dbl = F.col("n_vecs").cast("double")
    ssq = _fold_sum(F.transform("__sus", lambda x: x * x))
    return (
        row_agg.join(F.broadcast(vecs), "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_vecs",
            F.when(
                F.col("n_vecs") < 2, F.lit(None).cast("double")
            )
            .otherwise(
                (ssq - F.col("__usq"))
                / (F.col("n_vecs") * (F.col("n_vecs") - 1)).cast("double")
            )
            .alias("mean_pairwise_cos"),
            (F.sqrt(ssq) / n_dbl).alias("mean_cos_centroid"),
            # covariance-identity rounding (the decimal(28,8) sums
            # quantize at 1e-8) can land ~-1e-7 for singleton groups;
            # the trace is >= 0 by definition, so clamp — one IEEE max
            # on identical doubles, mirrored in the DuckDB oracle.
            F.greatest(
                F.col("__vsq") / n_dbl
                - _fold_sum(
                    F.transform(
                        "__svs",
                        lambda x: (x / F.col("n_vecs").cast("double"))
                        * (x / F.col("n_vecs").cast("double")),
                    )
                ),
                F.lit(0.0),
            ).alias("spread"),
        )
    )


def decontaminate_semantic_arrow(
    corpus_vecs: DataFrame,
    bench_vecs: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow/BLAS twin of ``decontaminate_semantic`` (the
    ``brute_force_topk_arrow`` pattern): the benchmark collapses to a
    dense unit-normalized numpy matrix (bounded — eval suites), and
    each mapInPandas batch scores ALL its corpus rows with ONE matmul
    instead of a per-(row, bench) codegen fold.  Same map-only shape,
    same output schema.

    When to prefer which: the JVM fold keeps everything in codegen
    and is exact against the SQL oracle — it's the registered form;
    the matmul twin wins as dim x |bench| grows (dim 768+, 100k+
    benchmark rows — real eval-suite scale), where the vectorized
    kernel is 10-100x the per-pair loop.  Scores agree to 1e-9 and
    the contamination flags/counts are identical unless a pair sits
    within one ulp of tau (unit-pinned equivalence)."""
    import numpy as np
    import pandas as pd

    b_rows = bench_vecs.select(vec_col).collect()
    b_mat = (
        np.array([r[0] for r in b_rows], dtype=np.float64)
        if b_rows
        else np.zeros((0, 1))
    )
    b_norm = np.sqrt((b_mat * b_mat).sum(axis=1))
    b_unit = b_mat[b_norm > 0] / b_norm[b_norm > 0][:, None]
    nb = b_unit.shape[0]

    out_schema = (
        f"{id_col} long, n_bench_hits long, "
        "max_cosine double, contaminated boolean"
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            c = np.array(list(pdf[vec_col]), dtype=np.float64)
            cn = np.sqrt((c * c).sum(axis=1))
            live = cn > 0
            hits = np.zeros(len(ids), dtype=np.int64)
            mx = pd.array([pd.NA] * len(ids), dtype="Float64")
            if nb and live.any():
                sims = (c[live] / cn[live][:, None]) @ b_unit.T
                hits[live] = (sims >= tau).sum(axis=1)
                mx[live] = sims.max(axis=1)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_bench_hits": hits,
                    "max_cosine": mx,
                    "contaminated": hits > 0,
                }
            )

    corp = corpus_vecs.select(id_col, vec_col)
    parallelism = corpus_vecs.sparkSession.sparkContext.defaultParallelism
    if corp.rdd.getNumPartitions() < parallelism:
        corp = corp.repartition(parallelism)
    return corp.mapInPandas(score, out_schema)


def incremental_semdedup(
    new_vecs: DataFrame,
    corpus_index: DataFrame | None,
    centroids: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cv",
    routed: bool | str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Fourth incremental-dedup family member (exact digests, MinHash
    signatures, SimHash fingerprints — and now SEMANTIC embeddings):
    screen a new batch of embeddings against the persisted KEPT-corpus
    cell index without rescanning the corpus.

    ``routed`` picks the assignment plan — ``"auto"`` (the default,
    VERDICT r07 ask #8) counts the codebook (planner-sized: k tracks
    sqrt(corpus), hundreds even at 100 TB) and flips to the two-stage
    ``two_level_assign`` under ``routed_defaults`` once
    ``k > ROUTED_EXACT_MAX_SUPERS`` — the regime where the flat n·k
    window is the per-batch cost center (measured 92.5s → 16.0s on
    the same assignment at n=50K/k=224, SCALE.md r07; 2.35× at
    recall 1.0 on the sf0.5 corpus).  Below the switch the flat
    broadcast scan stays: for tiny codebooks the two-stage plan's
    extra exchange costs more than the n·k window it removes.
    ``True``/``False`` force either plan.  In the defaults' exact
    regime (n_super ≤ 32, i.e. k ≤ 1024) the routed assignment — and
    therefore every screen decision — is bit-identical to the flat
    scan (equality pinned by test); past that the documented
    ≥0.96-recall approximation applies and a mis-routed vector merely
    screens against an adjacent cell.  Oracle-pinned specs keep small
    codebooks, so ``"auto"`` resolves to the flat (exact, SQL-twin)
    plan there.

    The index rows are ``(id, v, nrm, cell)`` — the batch's own
    ``index_delta`` from prior calls: double-cast vector, precomputed
    L2 norm, and the cell under the SHARED codebook (``centroids`` is
    the operator's fixed quantizer, the analogue of the hash functions
    a signature index pins; changing it invalidates the index).  Per
    batch:

    1. assign the batch to cells — broadcast nearest-centroid scan
       (dist asc, id asc ties), the exact assignment every SemDeDup
       stage here uses;
    2. drop a batch vector if ANY same-cell INDEX member sits within
       cosine >= tau (the cross-batch SemDeDup screen), or if a
       LOWER-id same-cell BATCH member does (the within-batch greedy —
       exactly ``semdedup_prune``'s drop-higher-id-of-firing-pair
       rule, chains included);
    3. return ``(fresh, index_delta)``: surviving original rows, and
       their ``(id, v, nrm, cell)`` rows to append.

    Zero-norm vectors: cosine is NULL (nullif guard), NULL >= tau is
    never true, so they are always kept — content-free embeddings are
    a quality-filter concern, mirroring the exact family's NULL-text
    contract.

    PRECONDITION — ids are unique (ADVICE r06): ``id_col`` must be
    unique within a batch AND across batches.  Two batch rows sharing
    an id are mutually invisible to the within-batch greedy (the
    strict ``__rid < id`` tie-break sees neither as "lower"), and
    re-ingesting an already-indexed id whose vector drifted past tau
    appends a SECOND index row under that id.  Callers ingesting
    at-least-once streams should dedupe ids per batch (e.g.
    ``dropDuplicates([id_col])``) and anti-join ids already in the
    index first — the same contract the exact/minhash/simhash ingest
    loops satisfy by keying on content digests.

    Chain semantics ACROSS batches (pinned by test): the cross-batch
    screen compares against KEPT index members only — a batch-2
    vector near a batch-1 vector that was itself dropped is KEPT,
    because nothing it duplicates exists in the corpus.  This is
    deliberately NOT the single-corpus ``semdedup_prune`` greedy
    (which drops the higher id of ANY firing pair, dropped lower ids
    included): dedup-against-what-you-kept is the correct ingest
    contract, and it is what every incremental family here does
    (a digest/signature index only ever holds kept content).

    100 TB shape: the corpus is never re-read; per-batch cost is one
    broadcast assignment over |batch| plus a cell-keyed join that
    touches only the index cells the batch lands in — partition the
    persisted index by ``cell`` and the join co-locates, so
    steady-state shuffle tracks |batch| × cell occupancy, not |index|.
    Index growth tracks NOVEL content only, like the simhash family.
    Deterministic end to end and SQL-expressible (NOT EXISTS twice) —
    oracle-ready for a registry slot (r07 candidate,
    ``plans/graph_queries.py:incremental_semdedup_fresh``).

    Cache lifetime contract (ADVICE r08): the routed branch caches
    its batch assignment internally; looping callers must
    ``spark.catalog.clearCache()`` per batch (the packaged ingest
    loop does) — see ``incremental_pq_dedup`` for the rationale."""
    # batch encode + same-cell cosine rivalry are compute-dense per
    # row; spread an under-split batch scan (guide §2.5; no-op at
    # scale, where the batch arrives in many splits)
    vecs = spread_scan(
        new_vecs.select(F.col(id_col), _as_double_vec(vec_col).alias("v"))
    ).withColumn(
        "nrm", F.sqrt(_fold_sum(F.transform(F.col("v"), lambda x: x * x)))
    )
    cents = centroids.select(
        F.col(centroid_id_col).alias("__cid"),
        _as_double_vec(centroid_vec_col).alias("__cv"),
    )
    k: int | None = None
    if isinstance(routed, str):
        if routed != "auto":
            raise ValueError(f"routed must be 'auto' or a bool, got {routed!r}")
        k = cents.count()  # bounded codebook: planner-sized pull
        routed = k > ROUTED_EXACT_MAX_SUPERS
    if routed:
        import math

        if k is None:
            k = cents.count()  # bounded codebook: planner-sized pull
        n_super = max(1, math.ceil(math.sqrt(k)))
        cells = two_level_assign(
            new_vecs,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            centroid_id_col=centroid_id_col,
            centroid_vec_col=centroid_vec_col,
            n_super=n_super,
            **routed_defaults(n_super),
        )
        # cache: the assignment feeds three plan legs (same-batch
        # rivals, the dup join probe, and the kept/delta projection);
        # the flat branch's single wide exchange gets ReusedExchange'd
        # across them for free, but the routed subtree ends in a
        # narrow join whose legs re-plan separately — without this the
        # two-stage assignment runs ~3x and erases its own win
        # (measured 15.7s vs 9.9s flat on the sf0.5 two-batch flow).
        assigned = vecs.join(cells, id_col).select(
            id_col, "v", "nrm", "cell"
        ).cache()
    else:
        # packed-quantizer assignment (r11): the bounded centroid set
        # rides as ONE broadcast array row and the nearest-cell argmin
        # is a per-row expression — map-only, replacing the former
        # crossJoin + row_number window (one batch-keyed sort exchange
        # per batch).  Same (dist asc, cid asc) tie-break, same strict
        # left-fold doubles — bit-identical to the window form (and to
        # the SQL oracle), pinned by the routed-equality unit.  Cached
        # because three plan legs consume it (rivals, dup probe,
        # kept/delta): the former window's exchange doubled as their
        # shared ReusedExchange point; without a materialization the
        # map-only form re-scores the batch per leg (measured 2.0 →
        # 2.5s solo before the cache).  Same cache-lifetime contract
        # as the routed branch below.
        assigned = (
            vecs.crossJoin(F.broadcast(_pack_rows(cents, "__cid", "__cv")))
            .withColumn(
                "__best",
                _nearest_packed(F.col("v"), F.col("__packed"), "__cid", "__cv"),
            )
            .select(id_col, "v", "nrm", F.col("__best.id").alias("cell"))
            .cache()
        )

    def _cos(av, bv, an, bn):
        return _fold_sum(F.zip_with(av, bv, lambda x, y: x * y)) / F.nullif(
            an * bn, F.lit(0.0)
        )

    # same-cell rivals: every index member, plus every LOWER-id batch
    # member (the within-batch greedy); one unioned join keeps it to a
    # single cell-keyed exchange
    rivals = assigned.select(
        "cell",
        F.col(id_col).alias("__rid"),
        F.col("v").alias("__rv"),
        F.col("nrm").alias("__rn_"),
        F.lit(True).alias("__same_batch"),
    )
    if corpus_index is not None:
        rivals = corpus_index.select(
            "cell",
            F.col(id_col).alias("__rid"),
            F.col("v").alias("__rv"),
            F.col("nrm").alias("__rn_"),
            F.lit(False).alias("__same_batch"),
        ).unionByName(rivals)
    dup_ids = (
        assigned.join(rivals, "cell")
        .where(
            (~F.col("__same_batch") | (F.col("__rid") < F.col(id_col)))
            & (_cos(F.col("v"), F.col("__rv"), F.col("nrm"), F.col("__rn_"))
               >= F.lit(tau))
        )
        .select(id_col)
        .distinct()
    )
    kept = assigned.join(dup_ids, id_col, "left_anti")
    fresh = new_vecs.join(kept.select(id_col), id_col, "left_semi")
    index_delta = kept.select(id_col, "v", "nrm", "cell")
    return fresh, index_delta


def incremental_pq_dedup(
    new_vecs: DataFrame,
    code_index: DataFrame | None,
    centroids: DataFrame,
    codebook: DataFrame,
    theta: float,
    dim: int,
    n_sub: int = 4,
    corpus_lookup: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Fifth incremental-dedup family member — the COMPRESSED-index
    variant: the persisted index stores PQ codes (n_sub small ints +
    per-subspace residual per vector, ~16x smaller than the full
    vectors ``incremental_semdedup`` keeps), the cross-batch screen
    runs on asymmetric distances against those codes, and exact
    vectors are fetched ONLY for screen survivors, by id.

    Dedup rule (squared-L2 radius ``theta``): a batch vector x is
    dropped iff some lower-id same-cell batch member, or some
    same-cell indexed member y, sits within ``||x - y||^2 <= theta``.
    The screen is triangle-inequality SOUND: ADC(x, q(y)) is the
    exact distance to y's reconstruction, so
    ``||x - y|| <= sqrt(ADC) and sqrt(ADC) <= ||x - y|| +
    sqrt(resid_y)``; a candidate survives the screen iff
    ``sqrt(ADC) <= sqrt(theta) + sqrt(resid_y)``, which every true
    dup satisfies — no false negatives, so the kept set is
    BIT-IDENTICAL to an exact-index dedup under the same rule (unit-
    pinned), while the index holds no vectors.  Exact replicas are
    always caught regardless of codebook resolution: x == y gives
    ADC = resid_y exactly.  Screen selectivity (how few non-dups
    reach the exact fetch) DOES depend on resid vs theta — measured
    in SCALE.md r08: on the i.i.d. fixture the bound is sound but
    nearly vacuous (0–1.2% extra pruning across 12–48-bit codes; the
    94% candidate pruning comes from the (cell, m, code) collision
    join), while on clustered corpora resid << pairwise distances
    and the fetch approaches ~|true dups|.  What the code index buys
    unconditionally is the 16x memory reduction at a bit-identical
    kept set.

    ``centroids`` (coarse cells) and ``codebook`` (m, code, cv) are
    the operator's FIXED quantizers — the analogue of a signature
    index's hash family; both broadcast, both pre-trained offline
    (changing either invalidates the index).  ``corpus_lookup`` is
    an (id, vector) resolver for the exact-verify fetch — in
    production the corpus store read by id (bucketed/point lookup),
    required whenever ``code_index`` is non-None.

    Returns ``(fresh, index_delta)``: surviving original rows, and
    their ``(id, cell, m, code, resid)`` code rows to append.

    100 TB shape: one broadcast cell assign + one broadcast codebook
    scoring pass over the batch; the screen joins batch-side
    codeword distances to index codes on (cell, m, code) — n_sub
    short rows per same-cell rival instead of a 64-float dot
    product — and the only corpus touch is the survivor-id join.

    Cache lifetime contract (ADVICE r08): the batch assignment frame
    is cached INTERNALLY and stays pinned until the caller clears it
    — unpersisting before return would defeat the cache (nothing has
    materialized yet under lazy evaluation).  One-shot callers can
    ignore it (session teardown collects); LOOPING callers (e.g. a
    streaming foreachBatch) must call ``spark.catalog.clearCache()``
    once per batch after consuming ``fresh``/``index_delta`` — the
    packaged ``start_dedup_ingest_stream`` loop already does.
    """
    if code_index is not None and corpus_lookup is None:
        raise ValueError(
            "corpus_lookup is required when screening against an index"
        )
    if dim % n_sub:
        raise ValueError(f"dim={dim} not divisible by n_sub={n_sub}")
    sub_d = dim // n_sub

    # the cell-assign + full-codebook ADC scoring passes below are
    # compute-dense map work over the batch; spread an under-split
    # batch scan first (guide §2.5; no-op at scale)
    vecs = spread_scan(
        new_vecs.select(F.col(id_col), _as_double_vec(vec_col).alias("v"))
    )
    # packed-quantizer encode (r11): both fixed quantizers ride as ONE
    # broadcast array row each, and cell assignment + codeword scoring
    # + per-subspace argmin are all per-row EXPRESSIONS — the whole
    # batch encode is map-only (the former crossJoin + row_number
    # windows cost one batch-keyed sort exchange each).  Tie-breaks
    # and the strict-left-fold doubles are unchanged, so codes and the
    # kept set stay bit-identical to the window form (and the oracle).
    cents = centroids.select(
        F.col(centroids.columns[0]).alias("__cid"),
        _as_double_vec(centroids.columns[1]).alias("__cv"),
    )
    assigned = (
        vecs.crossJoin(F.broadcast(_pack_rows(cents, "__cid", "__cv")))
        .withColumn(
            "__best",
            _nearest_packed(F.col("v"), F.col("__packed"), "__cid", "__cv"),
        )
        .select(id_col, "v", F.col("__best.id").alias("cell"))
        .cache()
    )
    cb = codebook.select("m", "code", _as_double_vec("cv").alias("cv"))
    # __packed is duplicated per row IN-FLIGHT only (never cached):
    # same transport cost class as the broadcast-join rows it replaces
    with_cb = assigned.crossJoin(F.broadcast(_pack_rows(cb, "m", "code", "cv")))

    def _sub_dist(m: Column, cv: Column) -> Column:
        return _sq_dist(
            F.slice(F.col("v"), m * F.lit(sub_d) + F.lit(1), F.lit(sub_d)), cv
        )

    # every (batch row, codeword) distance — the ADC lookup the screen
    # reads; one map-only explode instead of a broadcast hash join
    scored = with_cb.select(
        F.col(id_col),
        "cell",
        F.explode(
            F.transform(
                F.col("__packed"),
                lambda c: F.struct(
                    c["m"].alias("m"),
                    c["code"].alias("code"),
                    _sub_dist(c["m"], c["cv"]).alias("d"),
                ),
            )
        ).alias("__sc"),
    ).select(id_col, "cell", "__sc.m", "__sc.code", "__sc.d")
    # the batch's own codes: per-subspace argmin (d asc, code asc)
    codes_arr = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda m: F.array_min(
            F.transform(
                F.filter(F.col("__packed"), lambda c: c["m"] == m),
                lambda c: F.struct(
                    _sub_dist(m, c["cv"]).alias("resid"),
                    c["code"].alias("code"),
                ),
            )
        ),
    )
    batch_codes = with_cb.select(
        F.col(id_col), "cell", F.posexplode(codes_arr).alias("m", "__bc")
    ).select(
        id_col,
        "cell",
        "m",
        F.col("__bc.code").alias("code"),
        F.col("__bc.resid").alias("resid"),
    )
    xa = assigned.select(
        F.col(id_col).alias("__xid"), F.col("v").alias("__xv"), "cell"
    )
    xb = assigned.select(
        F.col(id_col).alias("__yid"), F.col("v").alias("__yv"), "cell"
    )
    dropped = (
        xa.join(xb, "cell")
        .where(
            (F.col("__yid") < F.col("__xid"))
            & (
                _fold_sum(
                    F.zip_with(
                        F.col("__xv"), F.col("__yv"), lambda x, y: (x - y) * (x - y)
                    )
                )
                <= F.lit(theta)
            )
        )
        .select(F.col("__xid").alias(id_col))
        .distinct()
    )
    if code_index is not None:
        idx = code_index.select(
            F.col(id_col).alias("__rid"),
            "cell",
            "m",
            "code",
            F.col("resid").alias("__rres"),
        )
        cand = (
            scored.select(id_col, "cell", "m", "code", "d")
            .join(idx, ["cell", "m", "code"])
            .groupBy(id_col, "__rid")
            .agg(
                F.expr(
                    "cast(sum(cast(d as decimal(28,8))) as double)"
                ).alias("__adc"),
                F.expr(
                    "cast(sum(cast(__rres as decimal(28,8))) as double)"
                ).alias("__resid"),
            )
            .where(
                F.sqrt(F.col("__adc"))
                <= F.sqrt(F.lit(theta)) + F.sqrt(F.col("__resid"))
            )
        )
        verified = (
            cand.join(
                corpus_lookup.select(
                    F.col(id_col).alias("__rid"),
                    _as_double_vec(vec_col).alias("__rv"),
                ),
                "__rid",
            )
            .join(assigned.select(id_col, "v"), id_col)
            .where(
                _fold_sum(
                    F.zip_with(
                        F.col("v"), F.col("__rv"), lambda x, y: (x - y) * (x - y)
                    )
                )
                <= F.lit(theta)
            )
            .select(id_col)
            .distinct()
        )
        dropped = dropped.unionByName(verified).distinct()
    kept = assigned.join(dropped, id_col, "left_anti").select(id_col)
    fresh = new_vecs.join(kept, id_col, "left_semi")
    index_delta = batch_codes.join(kept, id_col, "left_semi")
    return fresh, index_delta


def occupancy_balance(
    occ: DataFrame, cell_col: str = "bin", count_col: str = "cnt"
) -> DataFrame:
    """Index-balance summary over a (cell, count) occupancy frame —
    the ANN-ops health readout: a skewed IVF index makes n_probe cost
    unpredictable (hot cells dominate every probe) and recall lumpy
    (vectors crowd where the quantizer is coarse).  Returns ONE row:

    * ``n_cells`` / ``empty_cells`` — quantizer coverage;
    * ``gini`` — occupancy Gini coefficient via the sorted-rank
      identity ``Σ(2i−n−1)·c_(i) / (n·Σc)`` (0 = perfectly even,
      → (n−1)/n = one hot cell);
    * ``imbalance`` — max/mean occupancy (the worst-probe factor).

    Exactness: the Gini numerator is an EXACT integer sum (ranks ×
    counts); ties in the sort cannot change it (equal counts make the
    rank coefficients sum invariant within the tie group); the two
    ratios are single IEEE divisions, 9dp-rounded.  The frame is
    bounded by the CELL count — windows over it are scale-free."""
    from pyspark.sql import Window

    from ..functions import exact_round

    w = Window.orderBy(F.col(count_col).asc(), F.col(cell_col).asc())
    wall = Window.partitionBy(F.lit(1))
    r = (
        occ.withColumn("__i", F.row_number().over(w).cast("long"))
        .withColumn("__n", F.count(F.lit(1)).over(wall))
        .withColumn("__tot", F.sum(count_col).over(wall))
    )
    return r.agg(
        F.max("__n").alias("n_cells"),
        F.sum(
            F.when(F.col(count_col) == 0, 1).otherwise(0)
        ).alias("empty_cells"),
        exact_round(
            F.sum(
                (F.lit(2) * F.col("__i") - F.col("__n") - 1)
                * F.col(count_col)
            ).cast("double")
            / (F.max("__n") * F.max("__tot")).cast("double"),
            9,
        ).alias("gini"),
        exact_round(
            (F.max(count_col) * F.max("__n")).cast("double")
            / F.max("__tot").cast("double"),
            9,
        ).alias("imbalance"),
    )
