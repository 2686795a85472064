"""Scale rehearsal: run the heaviest queries at sf0.5 (5× the bench
scale) and record sec + Spark job counts vs sf0.1 (VERDICT r03 item 6).

SCALE.md's claims are plan-asserted by tests/test_plans.py but were
never EXECUTED above 600k lineitem rows.  This script:

1. Builds a local sf0.5 star schema at ``.scale/sf0.5`` (gitignored;
   /root/testdata stays untouched) by replicating sf0.1 five times
   with disjoint key spaces:
   * every entity/fact key shifts by ``replica * 10**8`` so replicas
     are structurally disconnected (graph components, customers,
     orders all scale 5× — the honest volume scale-up, not 5× density
     on the same keys);
   * ``documents.text`` gains one replica-specific token so the dedup
     family doesn't see 5 exact copies of every doc (which would
     measure a pair EXPLOSION, not scale-up);
   * ``embeddings.embedding`` is perturbed nonlinearly per replica
     (direction changes, not just magnitude) for the same reason;
     seed centroids (vec_id < 8) exist only in replica 0, so the
     SemDeDup cell count stays FIXED while the corpus grows 5× —
     deliberately measuring the "centroid count must track sqrt(n)"
     rule from the semdedup docstring.

2. Runs each query once untimed (codegen warmup at sf0.1 only), then
   once timed per scale, under a job group so the Spark status
   tracker reports the exact number of jobs the query launched.
   Claims checked: ``_ntile_exact_boundaries`` keeps its fixed fused
   job count regardless of scale; ``graph_triangle_count`` grows
   ~linearly (disconnected replicas: nodes ×5, edges ×5).

Usage: python tools/scale_rehearsal.py [--rebuild] [--factor N]
       [--cap-clusters C]
       [--incremental [--exact|--minhash|--simhash|--semdedup]]
       [--bpe] [query ...]
--factor N replicates sf0.1 N× into .scale/sf{0.1*N:g} (default 5 →
sf0.5; --factor 25 built the r07 second-decade sf2.5 corpus).
--cap-clusters C (r12, VERDICT r11 task 6 — FIXTURE-ONLY change):
the default ``zrep<r>`` suffix law makes EVERY replica of a doc a
near-dup of every other, so an N-replica corpus gives each doc an
N-member near-dup cluster — at --factor 1250 that is a quadratic
candidate volume (~5.5B rows, the documented sf125 ENOSPC), a
fixture artifact no production corpus exhibits.  With the flag, a
sibling dir ``.scale/sf<X>cap<C>`` is built (symlinks for every
table except documents) where replica r's text is token-salted by
GROUP g = r // C: each token gains a ``g<g>_`` prefix, so docs in
the same C-member group stay near-dups (identical salted stream ±
the zrep token) while cross-group Jaccard collapses to ~0 —
clusters are capped at C (production-shaped), candidate volume is
linear in the corpus, and the dedup families become measurable at
the fourth decade.  The non-capped corpus stays authoritative for
every other family (token identities change under salting).
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
sys.path.insert(0, _REPO)

SRC = "/root/testdata/sf0.1"
DST = os.path.join(_REPO, ".scale", "sf0.5")
SHIFT = 10**8
N_REPLICAS = 5
# index maintenance rhythm for the incremental ingest loops (VERDICT
# r06 ask #7): compact the persisted index every N batches into
# ≈target-row files so fragmentation is bounded by index size, not by
# how many batches ever ran
COMPACT_EVERY = 3
COMPACT_TARGET_ROWS = 50_000

QUERIES = [
    "v_order_summary",
    # q5_nation_volume retired into the suite at r06 (RENAMED_FROM)
    "tpch_join_suite",
    "rfm_segments",
    "order_value_deciles",
    "customer_rolling_7d_spend",
    # dedup_minhash_lsh + dedup_clusters retired into the suite at r09
    "minhash_cluster_suite",
    # dedup_simhash_pairs retired into the suite at r08 (RENAMED_FROM)
    "dedup_simhash_suite",
    "graph_triangle_count",
    "supplier_pagerank",
    # semdedup_pairs + semdedup_keep retired into the suite at r09
    "semdedup_suite",
    # r04 additions: explicit runtime-filter join + layout encoding
    "bloom_semi_lineitem",
    "zorder_orders",
    # r05 additions: the round's five new registered specs.
    # incremental_minhash_fresh + incremental_simhash_fresh retired
    # into incremental_dedup_suite at r12, incremental_exact_fresh
    # at r13 (RENAMED_FROM).
    "incremental_dedup_suite",
    "upsert_bloom_orders",
    "manifest_pruned_orders",
    # r06 additions: the routed SemDeDup registrations (the deeper
    # routed-vs-flat sweep lives in tools/routed_rehearsal.py).
    # routed_assign_embeddings retired into ann_assign_suite at r10.
    "ann_assign_suite",
    "semdedup_routed_pairs",
    # r07 additions: the round's three new registrations
    "text_analysis_suite",
    "incremental_semdedup_fresh",
    "bpe_merges_documents",
    # r09 additions: the kmeans consolidation + the export debut
    "kmeans_suite",
    "corpus_export_suite",
]


def build_sf05() -> None:
    import duckdb

    os.makedirs(DST, exist_ok=True)
    conn = duckdb.connect()
    conn.execute(f"SET threads TO {max(os.cpu_count() - 2, 4)}")

    def copy(table: str, select: str) -> None:
        out = os.path.join(DST, f"{table}.parquet")
        src = os.path.join(SRC, f"{table}.parquet")
        conn.execute(
            f"COPY ({select.format(src=src)}) TO '{out}' (FORMAT PARQUET)"
        )
        n = conn.execute(
            f"SELECT count(*) FROM read_parquet('{out}')"
        ).fetchone()[0]
        print(f"  {table}: {n} rows")

    rep = f"(SELECT unnest(range({N_REPLICAS})) AS r)"
    # dims that stay fixed (25 nations / 5 regions at every TPC-H SF)
    for t in ("region", "nation"):
        copy(t, "SELECT * FROM read_parquet('{src}')")
    copy(
        "customer",
        f"SELECT c_custkey + r * {SHIFT} AS c_custkey, c_name, c_nationkey,"
        " c_acctbal, c_mktsegment"
        " FROM read_parquet('{src}'), " + rep,
    )
    copy(
        "supplier",
        f"SELECT s_suppkey + r * {SHIFT} AS s_suppkey, s_name, s_nationkey,"
        " s_acctbal FROM read_parquet('{src}'), " + rep,
    )
    copy(
        "part",
        f"SELECT p_partkey + r * {SHIFT} AS p_partkey, p_name, p_brand,"
        " p_type, p_size, p_retailprice FROM read_parquet('{src}'), " + rep,
    )
    copy(
        "orders",
        f"SELECT o_orderkey + r * {SHIFT} AS o_orderkey,"
        f" o_custkey + r * {SHIFT} AS o_custkey,"
        " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
        " FROM read_parquet('{src}'), " + rep,
    )
    copy(
        "lineitem",
        f"SELECT l_orderkey + r * {SHIFT} AS l_orderkey,"
        f" l_partkey + r * {SHIFT} AS l_partkey,"
        f" l_suppkey + r * {SHIFT} AS l_suppkey,"
        " l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
        " l_returnflag, l_linestatus, l_shipdate"
        " FROM read_parquet('{src}'), " + rep,
    )
    copy(
        "events",
        f"SELECT event_id + r * {SHIFT} AS event_id, ts,"
        f" user_id + r * {SHIFT} AS user_id, event_type, value, props"
        " FROM read_parquet('{src}'), " + rep,
    )
    copy(
        "documents",
        f"SELECT doc_id + r * {SHIFT} AS doc_id,"
        " text || ' zrep' || CAST(r AS VARCHAR) AS text,"
        " lang, source, n_chars FROM read_parquet('{src}'), " + rep,
    )
    copy(
        "embeddings",
        f"SELECT vec_id + r * {SHIFT} AS vec_id,"
        " list_transform(embedding,"
        "   x -> CAST(x + 0.003 * r * x * x AS FLOAT)) AS embedding,"
        " label FROM read_parquet('{src}'), " + rep,
    )
    conn.close()


def build_capped_documents(cap: int) -> str:
    """Build the bounded-cluster variant dir next to DST: every table
    symlinked from the base corpus except ``documents``, whose text is
    re-replicated with the group-salt law (see module docstring) so
    near-dup clusters cap at ``cap`` members.  Returns the new dir."""
    import duckdb

    dst_cap = f"{DST}cap{cap}"
    os.makedirs(dst_cap, exist_ok=True)
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings"
    ).split():
        link = os.path.join(dst_cap, f"{t}.parquet")
        src_t = os.path.join(DST, f"{t}.parquet")
        # lexists, not exists: a link created while the base table was
        # absent (the sf125 corpus drops orders/lineitem after their
        # rehearsals to fit local scratch) is a broken symlink —
        # exists() follows it and would re-create.  Skip tables the
        # base no longer carries; only documents-family specs run on
        # the capped dir anyway.
        if os.path.lexists(link) or not os.path.exists(src_t):
            continue
        os.symlink(src_t, link)
    out = os.path.join(dst_cap, "documents.parquet")
    if os.path.exists(out):
        return dst_cap
    conn = duckdb.connect()
    conn.execute(f"SET threads TO {max(os.cpu_count() - 2, 4)}")
    src = os.path.join(SRC, "documents.parquet")
    rep = f"(SELECT unnest(range({N_REPLICAS})) AS r)"
    conn.execute(
        f"COPY (SELECT doc_id + r * {SHIFT} AS doc_id,"
        f" replace(text, ' ', ' g' || CAST(r // {cap} AS VARCHAR) || '_')"
        " || ' zrep' || CAST(r AS VARCHAR) AS text,"
        f" lang, source, n_chars FROM read_parquet('{src}'), {rep})"
        f" TO '{out}' (FORMAT PARQUET)"
    )
    n = conn.execute(
        f"SELECT count(*) FROM read_parquet('{out}')"
    ).fetchone()[0]
    conn.close()
    print(f"  documents (cap {cap}): {n} rows at {dst_cap}")
    return dst_cap


def incremental_rehearsal(spark) -> None:
    """r05 (VERDICT r04 ask #6): the defining property of the
    incremental-dedup design is that PER-BATCH cost stays flat as the
    INDEX grows — steady-state shuffle ≈ |batch| + fp·|index|, not
    |index|.  Rehearse it at sf0.5: ingest the five 5 K-doc replicas
    as consecutive batches against a persisted digest index (grows
    0 → 20 K while the batch stays 5 K), timing screen + delta-append
    per batch; then replay batch 0 as a sixth batch to prove the
    screen catches 100% of a full re-ingest (fresh = 0) at the
    largest index."""
    import shutil

    from pyspark.sql import functions as F

    from data_engineering_for_e_commerce_logistics_spark.operators.dedup import (
        bands_of,
        incremental_exact_dedup,
        incremental_minhash_dedup,
        incremental_simhash_dedup,
    )
    from data_engineering_for_e_commerce_logistics_spark.operators.layout import (
        compact_in_place,
        parquet_file_count,
    )
    from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
        incremental_semdedup,
    )

    family = (
        "semdedup"
        if "--semdedup" in sys.argv
        else "simhash"
        if "--simhash" in sys.argv
        else "minhash" if "--minhash" in sys.argv else "exact"
    )
    if family == "semdedup":
        # r06: the fourth family ingests the EMBEDDINGS replicas — the
        # sf0.5 corpus perturbs each replica's vectors slightly
        # (nonlinear direction change), so a high tau screens replica
        # re-ingests as semantic near-dups and the index grows with
        # novel content only, like the simhash family's property.
        docs = spark.read.parquet(os.path.join(DST, "embeddings.parquet"))
        id_col = "vec_id"
        centroids = docs.where(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cv"),
        )
    else:
        docs = spark.read.parquet(os.path.join(DST, "documents.parquet"))
        id_col = "doc_id"
    idx_path = os.path.join(_REPO, ".scale", f"inc_index_{family}")
    bands_path = idx_path + "_bands"

    def screen(batch, idx):
        if family == "semdedup":
            return incremental_semdedup(batch, idx, centroids, tau=0.95)
        if family == "simhash":
            # NOTE the sf0.5 corpus construction makes replicas NEAR-dups
            # of each other (one appended token), so here batches 1-4
            # should screen to ~zero fresh — the index, and with it the
            # per-batch band-join cost, grows with NOVEL content, not
            # ingested volume.  That is the near-dup family's defining
            # scale property.
            return incremental_simhash_dedup(batch, idx, max_hamming=3)
        if family == "minhash":
            # banded-index fast path: the persisted band projection
            # skips the per-batch O(index × bands) re-banding explode.
            banded = (
                spark.read.parquet(bands_path)
                if os.path.exists(bands_path)
                else None
            )
            return incremental_minhash_dedup(
                batch, idx, threshold=0.6, banded_index=banded
            )
        return incremental_exact_dedup(batch, idx, bloom_bits=1 << 20)

    shutil.rmtree(idx_path, ignore_errors=True)
    shutil.rmtree(bands_path, ignore_errors=True)
    out = []
    batches = list(range(N_REPLICAS)) + [0]  # final: replay batch 0
    for step, r in enumerate(batches):
        batch = docs.where(F.floor(F.col(id_col) / SHIFT) == r)
        have_idx = os.path.exists(idx_path)
        idx = spark.read.parquet(idx_path) if have_idx else None
        idx_before = idx.count() if have_idx else 0
        t0 = time.time()
        fresh, delta = screen(batch, idx)
        delta.write.mode("append").parquet(idx_path)
        if family == "minhash":
            # delta derives from the operator's cached batch signature
            # frame, so banding it again costs one cheap projection
            bands_of(delta).write.mode("append").parquet(bands_path)
        n_fresh = (
            spark.read.parquet(idx_path).count() - idx_before
        )  # appended rows == fresh digests, no second job over the batch
        sec = round(time.time() - t0, 2)
        spark.catalog.clearCache()  # operator sig cache: per-batch lifetime
        row = {
            "step": step,
            "replica": r,
            "index_before": idx_before,
            "fresh": n_fresh,
            "sec": sec,
            "index_files": parquet_file_count(idx_path),
        }
        # VERDICT r06 ask #7: without maintenance every foreachBatch
        # append adds small files forever; compact the index (and the
        # minhash band projection) every COMPACT_EVERY batches so the
        # file count stays bounded by index SIZE, not ingest AGE.
        if (step + 1) % COMPACT_EVERY == 0:
            t0 = time.time()
            before, after = compact_in_place(
                spark,
                idx_path,
                target_rows_per_file=COMPACT_TARGET_ROWS,
                sort_col="cell" if family == "semdedup" else None,
            )
            if family == "minhash" and os.path.exists(bands_path):
                compact_in_place(
                    spark, bands_path, target_rows_per_file=COMPACT_TARGET_ROWS
                )
            row["compact"] = {
                "files_before": before,
                "files_after": after,
                "sec": round(time.time() - t0, 2),
            }
        out.append(row)
        print(f"incremental batch {row}")
    print(json.dumps({f"incremental_{family}_sf0.5": out}, indent=1))


def bpe_rehearsal(spark) -> None:
    """r07 (VERDICT r06 ask #6): BPE train's scale LAW is asserted in
    the operator docstring — the corpus is touched exactly once (the
    word-freq aggregate), and every merge round then runs on the
    VOCAB frame, so per-round cost tracks distinct words, not corpus
    rows.  Measure it: train at sf0.1 (5K docs) and sf0.5 (25K docs,
    5× rows but replicas share words so the vocab grows far less than
    5×), splitting corpus-pass wall from merge-round wall, then
    encode each corpus with its trained vocab.  The law holds if the
    per-round cost ratio between the corpora tracks the VOCAB ratio
    (≈1×) rather than the corpus-row ratio (5×)."""
    from pyspark.sql import functions as F

    from data_engineering_for_e_commerce_logistics_spark.operators.text import (
        bpe_encode,
        bpe_train,
    )

    N_MERGES = 6
    out: dict[str, dict] = {}
    for label, path in (("sf0.1", SRC), (os.path.basename(DST), DST)):
        docs = spark.read.parquet(os.path.join(path, "documents.parquet"))
        n_docs = docs.count()
        spark.catalog.clearCache()
        # corpus pass alone: the word-freq aggregate bpe_train opens
        # with (timed via the same localCheckpoint materialization)
        t0 = time.time()
        words = (
            docs.select(
                F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("w")
            )
            .where(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("freq"))
            .localCheckpoint()
        )
        n_vocab = words.count()
        t_corpus = time.time() - t0
        # full train (re-runs its own corpus pass; merge wall = total
        # minus this corpus pass, amortized over the rounds)
        t0 = time.time()
        merges, vocab = bpe_train(docs, n_merges=N_MERGES, return_vocab=True)
        n_merges_got = merges.count()
        t_train = time.time() - t0
        t0 = time.time()
        enc = bpe_encode(docs, vocab)
        n_tokens = enc.agg(F.sum("n_tokens")).collect()[0][0]
        t_encode = time.time() - t0
        out[label] = {
            "docs": n_docs,
            "distinct_words": n_vocab,
            "corpus_pass_sec": round(t_corpus, 2),
            "train_total_sec": round(t_train, 2),
            "merge_rounds_sec": round(t_train - t_corpus, 2),
            "per_round_sec": round((t_train - t_corpus) / max(n_merges_got, 1), 2),
            "n_merges": n_merges_got,
            "encode_sec": round(t_encode, 2),
            "total_tokens": int(n_tokens),
        }
        print(label, out[label])
    big_label = os.path.basename(DST)  # tracks --factor (ADVICE r07)
    r = out[big_label], out["sf0.1"]
    print(
        json.dumps(
            {
                "bpe_rehearsal": out,
                f"ratios_{big_label.replace('.', '')}_over_sf01": {
                    "docs": round(r[0]["docs"] / r[1]["docs"], 2),
                    "distinct_words": round(
                        r[0]["distinct_words"] / r[1]["distinct_words"], 2
                    ),
                    "corpus_pass": round(
                        r[0]["corpus_pass_sec"] / max(r[1]["corpus_pass_sec"], 1e-9), 2
                    ),
                    "per_round": round(
                        r[0]["per_round_sec"] / max(r[1]["per_round_sec"], 1e-9), 2
                    ),
                    "encode": round(
                        r[0]["encode_sec"] / max(r[1]["encode_sec"], 1e-9), 2
                    ),
                },
            },
            indent=1,
        )
    )


def main() -> None:
    global DST, N_REPLICAS
    # --factor N: build/use an N× replica corpus instead of the default
    # 5× (e.g. --factor 25 → .scale/sf2.5 — the second scaling decade).
    if "--factor" in sys.argv:
        i = sys.argv.index("--factor")
        n = int(sys.argv[i + 1])
        del sys.argv[i : i + 2]
        N_REPLICAS = n
        DST = os.path.join(_REPO, ".scale", f"sf{0.1 * n:g}")

    if "--rebuild" in sys.argv or not os.path.exists(
        os.path.join(DST, "embeddings.parquet")
    ):
        print(f"building sf0.5 at {DST}")
        build_sf05()

    # --cap-clusters C: swap DST to the bounded-cluster variant (the
    # dedup-family fixture law fix — see module docstring)
    if "--cap-clusters" in sys.argv:
        i = sys.argv.index("--cap-clusters")
        cap = int(sys.argv[i + 1])
        del sys.argv[i : i + 2]
        DST = build_capped_documents(cap)

    from data_engineering_for_e_commerce_logistics_spark.plans.registry import (
        all_specs,
    )
    from data_engineering_for_e_commerce_logistics_spark.session import get_spark

    spark = get_spark(app_name="scale-rehearsal")
    sc = spark.sparkContext
    specs = all_specs()
    results: dict[str, dict] = {}

    if "--incremental" in sys.argv:
        incremental_rehearsal(spark)
        return

    if "--bpe" in sys.argv:
        bpe_rehearsal(spark)
        return

    # optional positional names: rehearse a subset (e.g. new queries)
    # The default list must stay resolvable as specs retire into
    # suites (ADVICE r10: routed_assign_embeddings went stale here);
    # check it with the same rule applied to CLI-passed names.
    stale = [n for n in QUERIES if n not in specs]
    if stale:
        sys.exit(
            f"stale default QUERIES entr{'ies' if len(stale) > 1 else 'y'}:"
            f" {', '.join(stale)} — update the list to the RENAMED_FROM"
            " successor(s)"
        )

    wanted = [a for a in sys.argv[1:] if not a.startswith("--")]
    unknown = [n for n in wanted if n not in specs]
    if unknown:
        sys.exit(
            f"unknown query name(s): {', '.join(unknown)} — valid names "
            "are registered specs"
        )
    queries = wanted if wanted else QUERIES

    for name in queries:
        build = specs[name].build
        # codegen warmup at the small scale
        build(spark, SRC).write.format("noop").mode("overwrite").save()
        row: dict[str, float | int] = {}
        for label, sf_dir in (("sf0.1", SRC), (os.path.basename(DST), DST)):
            spark.catalog.clearCache()
            group = f"{name}@{label}"
            sc.setJobGroup(group, group)
            t0 = time.time()
            build(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            sec = time.time() - t0
            sc.setJobGroup("", "")
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            row[f"{label}_sec"] = round(sec, 2)
            row[f"{label}_jobs"] = jobs
        row["ratio"] = round(
            row[f"{os.path.basename(DST)}_sec"] / max(row["sf0.1_sec"], 1e-9), 1
        )
        results[name] = row
        print(f"{name}: {row}")

    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
