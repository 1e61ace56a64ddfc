"""semantic_dedup realistic-geometry bench (round-10 verdict item 4).

The standard embeddings fixture is 99.9% identical replicas, so the
exact-duplicate collapse shrinks the pair stage 2M -> ~14k reps and the
within-cell n^1.5 term never shows. This generator builds a PERTURBED
cluster geometry — every vector is its cluster center plus hash-derived
noise, so every quantized vector is DISTINCT (collapse shrinks <10x by
construction) — and times semantic_dedup on k-means-trained sqrt(n) cells,
the paper's own operating shape (Abbas et al. 2023).

Geometry: n_clusters = n/16 centers on the unit sphere (64-dim, same as
the fixture), 16 members each at cosine ~0.995 to the center (well above
the 0.95 threshold), cross-cluster cosine ~hash-random (<<0.95). A planted
recall column reports the fraction of same-cluster pairs that landed in
one output component — the blocking-recall price at this geometry,
honestly measured.

Deterministic: all randomness is xxhash64(id, dim)-derived; re-runs
reproduce the corpus bit-for-bit.

Usage: python tools/semdedup_bench.py <n_vectors> [fixture_dir]
Prints one JSON line: {n, sec, n_cells, kept, reps, recall_planted}.

Round 12: set SEMDEDUP_MAX_CELL_PAIRS=<budget> to run the sub-blocking
arm (recursive sub-quantization of over-budget cells) — the line then
carries max_cell_pairs and final-cell stats so the alpha measurement and
its full-merge-rate price sit in one row.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mover_spark.session import get_spark

DIM = 64
MEMBERS = 16  # vectors per planted cluster
EPS = 0.05  # perturbation scale: keeps within-cluster cosine ~0.995
THRESHOLD = 0.95


def perturbed_embeddings(spark, n: int):
    """(vec_id, embedding) — n/MEMBERS cluster centers, MEMBERS perturbed
    members each, all components hash-derived in [-1, 1]."""
    cid = f"CAST(id / {MEMBERS} AS BIGINT)"
    center = f"(pmod(xxhash64({cid}, d), 2001) - 1000) / 1000.0"
    noise = f"(pmod(xxhash64(id, d, 7), 2001) - 1000) / 1000.0"
    return (
        spark.range(n)
        .repartition(32)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(1, {DIM}), "
                f"d -> CAST({center} + {EPS} * {noise} AS FLOAT))"
            ).alias("embedding"),
        )
    )


def main() -> int:
    n = int(sys.argv[1])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fix_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(repo, ".bench", f"semdedup_{n}")
    )
    spark = get_spark("semdedup-bench")
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(fix_dir, "embeddings.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(fix_dir, exist_ok=True)
        perturbed_embeddings(spark, n).write.mode("overwrite").parquet(path)

    from mover_spark import memo
    from mover_spark.operators.similarity import (
        auto_ivf_params,
        semantic_dedup,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(path)
    n_cells, _ = auto_ivf_params(n)
    t_train0 = time.monotonic()
    cents = train_ivf_centroids(emb, n_cells)
    train_sec = round(time.monotonic() - t_train0, 1)

    budget = os.environ.get("SEMDEDUP_MAX_CELL_PAIRS")
    budget = int(budget) if budget else None
    t0 = time.monotonic()
    out = semantic_dedup(
        emb, threshold=THRESHOLD, centroids=cents, max_cell_pairs=budget
    ).persist()
    kept = out.where("is_kept").count()
    sec = round(time.monotonic() - t0, 1)
    cell_stats = out.groupBy("cell").count().agg(
        F.count(F.lit(1)).alias("n_final_cells"), F.max("count").alias("max_cell")
    ).collect()[0]

    # planted recall: of the C(MEMBERS,2) same-cluster pairs per planted
    # cluster, what fraction landed in one component? (cluster_id equality)
    lab = out.withColumn("planted", F.expr(f"CAST(vec_id / {MEMBERS} AS BIGINT)"))
    per = lab.groupBy("planted").agg(
        F.countDistinct("cluster_id").alias("n_comp"),
        F.count(F.lit(1)).alias("n_members"),
    )
    stats = per.agg(
        F.avg((F.col("n_comp") == 1).cast("double")).alias("full_merge_rate"),
        F.avg("n_comp").alias("avg_components"),
    ).collect()[0]
    out.unpersist()
    memo.clear()
    print(
        json.dumps(
            {
                "n": n,
                "n_cells": n_cells,
                "train_sec": train_sec,
                "sec": sec,
                "kept": kept,
                "planted_clusters": n // MEMBERS,
                "full_merge_rate": round(stats.full_merge_rate, 4),
                "avg_components_per_cluster": round(stats.avg_components, 3),
                "max_cell_pairs": budget,
                "n_final_cells": int(cell_stats.n_final_cells),
                "max_final_cell": int(cell_stats.max_cell),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
