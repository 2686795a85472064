"""Distributed graph primitives over DataFrame edge lists.

The engine's graph surface (duplicate-cluster connected components in
`plans/graph_queries.py`, PageRank in the same module) works on plain
(src, dst) DataFrames — no graph library, no driver-side adjacency.
This module adds the reusable primitives: degree profiles and
degree-ordered triangle counting.

Scale notes (the part that matters at 100 TB):

* Triangle counting uses the compact-forward orientation: every
  undirected edge is directed from its lower-(degree, id) endpoint to
  the higher one, so each wedge is generated exactly once and the
  per-node wedge fanout is bounded by min(degree, sqrt(2m)) — the
  standard mitigation for the high-degree-hub blowup that kills the
  naive E⋈E⋈E plan.  See Latapy, "Main-memory triangle computations
  for very large (sparse (power-law)) graphs", TCS 2008 — the
  orientation trick is engine-independent.
* The oriented edge list is built once and cached by the caller if
  reused; the count itself is two hash joins and one aggregate —
  all key-partitioned, nothing driver-side.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node degree of an undirected edge list (each edge stored
    once, canonical src<dst).  One explode-free union + count."""
    return (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def orient_by_degree(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Direct each undirected edge from its lower-(degree, id) endpoint
    to the higher one (total order, so orientation is deterministic).
    Returns columns (lo, hi).  Two broadcast-sized joins when the
    degree table is small, hash joins otherwise — Spark picks via AQE.
    """
    deg = degrees(edges, src, dst)
    e = (
        edges.join(deg.withColumnRenamed("node", src), src)
        .withColumnRenamed("degree", "deg_src")
        .join(deg.withColumnRenamed("node", dst), dst)
        .withColumnRenamed("degree", "deg_dst")
    )
    src_first = (F.col("deg_src") < F.col("deg_dst")) | (
        (F.col("deg_src") == F.col("deg_dst")) & (F.col(src) < F.col(dst))
    )
    return e.select(
        F.when(src_first, F.col(src)).otherwise(F.col(dst)).alias("lo"),
        F.when(src_first, F.col(dst)).otherwise(F.col(src)).alias("hi"),
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count of an undirected graph given as a
    canonical (src<dst, each edge once) edge list.  Returns a 1-row
    DataFrame with column ``triangles``.

    Plan: orient by degree, self-join the oriented list on the wedge
    pivot (lo), and close each wedge against the oriented edges — two
    shuffles on node keys plus one count.  Each triangle is counted
    exactly once because the orientation is acyclic and every triangle
    has exactly one node with two out-edges in it."""
    oriented = orient_by_degree(edges, src, dst)
    e1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "a").filter(F.col("b") < F.col("c"))
    # a wedge (b, c) closes iff (b→c) or (c→b) is an oriented edge;
    # normalize the probe to the canonical orientation-free pair.
    closing = oriented.select(
        F.least("lo", "hi").alias("b"), F.greatest("lo", "hi").alias("c")
    )
    tris = wedges.join(
        closing, ["b", "c"]
    )
    return tris.agg(F.count(F.lit(1)).alias("triangles"))


# Rows per partition of an iterative graph round (``_measured_width``).
_ROWS_PER_PARTITION = 2_000_000


def _measured_width(df: DataFrame, n_rows: int) -> int:
    """The iterative-graph width rule: ~_ROWS_PER_PARTITION rows per
    partition keeps a billion-edge graph at cluster width while a
    small one runs single-task rounds."""
    return max(
        1,
        min(
            n_rows // _ROWS_PER_PARTITION + 1,
            df.sparkSession.sparkContext.defaultParallelism,
        ),
    )


@contextmanager
def _pinned_loop_conf(spark, active: bool, p: int):
    """AQE off + shuffle width pinned to the measured p around an
    iterative loop's OWN actions, on measured-SMALL graphs only
    (r11): under AQE every exchange materializes as its own
    query-stage JOB with a driver re-optimization pass, so one probed
    round/iteration costs 3-5 driver round trips while the per-round
    data at p == 1 is microseconds — the driver loop, not the data,
    is the wall (measured on the sf0.1 chain graph: 53 → 18 jobs,
    solo 5.93 → 4.81s).  Large graphs keep AQE: skew handling and
    runtime coalescing matter exactly there.  Session-scoped, so the
    pin is restored in ``finally`` — callers of the returned frame
    (which reads already-materialized checkpoints) never execute
    under it."""
    if not active:
        yield
        return
    saved: dict = {}
    for key, val in (
        ("spark.sql.adaptive.enabled", "false"),
        ("spark.sql.shuffle.partitions", str(p)),
    ):
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, val in saved.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Connected components over an undirected pair list via min-label
    propagation to fixpoint (the standard Pregel-less Spark pattern,
    extracted r07 from the ``dedup_clusters`` spec so the leakage-safe
    split can reuse it): labels start as own id; each iteration takes
    the min of own and neighbors' labels; stop when nothing changes.
    Returns ``(node, label)`` for every node APPEARING IN A PAIR —
    isolated items are absent by construction (callers left-join and
    coalesce to own id).

    Iterations = component diameter — each is one join + one
    aggregate.  The edge list is cached before looping (every fixpoint
    action otherwise re-executes the whole upstream pair miner —
    measured 32s → ~3s at sf0.01 for the LSH pipeline); edges are
    O(duplicate pairs), tiny relative to the corpus.  Each iteration's
    label frame is ``localCheckpoint``-ed: the update plan embeds the
    previous labels plan TWICE (join probe + neighbor_min build), so
    without a lineage cut the logical plan doubles per iteration and
    plan analysis/stringification alone stalls the driver past
    diameter ~10 (r09 lesson — caching prevents recompute, not plan
    growth).  The checkpoint also retires the r08 cache-handle
    bookkeeping; the returned frame reads from materialized RDD
    blocks, not a recomputable plan.  Retention caveat (r09 ADVICE):
    the RETURNED frame's checkpoint blocks stay pinned for its
    lifetime, and each iteration's intermediate checkpoint blocks are
    reclaimed by the JVM ContextCleaner only after their Python
    handles are GC'd — so a long-lived session that holds many label
    frames can accumulate O(rounds) label copies until GC runs."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    edges = edges.cache()
    n_edges = edges.count()
    # Size the fixpoint's partitioning from the MEASURED edge count
    # (r08): the loop's joins inherit the session shuffle width, and on
    # a small duplicate-pair graph each of the ~3 jobs/iteration then
    # pays 32-200 near-empty tasks of scheduling overhead — measured
    # 0.5s/iteration for a 477-node graph at sf0.1.  ~2M edges per
    # partition keeps a billion-edge graph at cluster width while a
    # small one runs in a handful of tasks; edges and labels hash-
    # partition on their join keys (dst ↔ node) with the SAME width so
    # each iteration's join avoids re-exchanging the cached sides.
    p = _measured_width(edges, n_edges)
    raw = edges
    edges = raw.repartition(p, "dst").cache()
    edges.count()  # materializes FROM the still-cached raw frame
    raw.unpersist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .repartition(p, "node")
        .localCheckpoint()
    )

    # AQE off + width pinned on measured-small graphs (r11, see
    # _pinned_loop_conf): the fixpoint's per-iteration
    # join/agg/repartition otherwise each materialize as their own AQE
    # query-stage job.
    with _pinned_loop_conf(pairs.sparkSession, n_edges < 2_000_000, p):
        while True:
            neighbor_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nlabel"))
            )
            updated = F.least(
                labels.label, F.coalesce(F.col("nlabel"), labels.label)
            )
            new_labels = (
                labels.join(
                    neighbor_min, labels.node == neighbor_min.src, "left"
                )
                .select(
                    labels.node.alias("node"),
                    updated.alias("label"),
                    # the convergence flag is decidable inside this
                    # join's projection (old label is a join input), so
                    # the changed count needs no second labels join per
                    # iteration
                    (updated < labels.label).alias("__changed"),
                )
                # keep the label frame node-partitioned at the measured
                # width so the NEXT iteration's dst↔node join reuses the
                # layout instead of re-exchanging both cached sides
                .repartition(p, "node")
                # lineage cut: resets the logical plan to a LogicalRDD
                # (partitioning preserved), so the next iteration's plan
                # is O(1), not O(2^iter).  LAZY (r10): the changed-count
                # below scans every partition and is the materializing
                # action — checkpoint-write and convergence test share
                # ONE job per iteration instead of two
                .localCheckpoint(eager=False)
            )
            changed = new_labels.filter(F.col("__changed")).count()
            labels = new_labels.select("node", "label")
            if changed == 0:
                break
    edges.unpersist()
    return labels


