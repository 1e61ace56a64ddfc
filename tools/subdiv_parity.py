"""Campaign-scale parity for the executor-side sub-quantization strategy
(VERDICT r12 next #1 done-criterion): run semantic_dedup's pair-budget
arm twice on the perturbed-geometry corpus — once forcing the
executor-side strategy (mode='executor'), once forcing the
driver-collect strategy (mode='driver') — and compare the FULL output
relations by an order-free digest (row count, kept count, sum of per-row
xxhash64 over all four output columns). Identical digests at 2M rows is
the campaign pin on top of the unit-level pin
(test_subdivide_executor_matches_driver_reference); the two wall-times
also give the executor-vs-driver cost of removing the collect (which
prices the _SUBDIV_DRIVER_PICK_LIMIT auto-switch).

Reuses tools/semdedup_bench.py's deterministic fixture (same .bench dir,
built once) and its training path.

Usage: python tools/subdiv_parity.py <n_vectors> [max_cell_pairs]
Prints one JSON line:
  {n, max_cell_pairs, executor_sec, driver_sec, identical, n_rows, kept}
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from pyspark.sql import functions as F

from mover_spark.session import get_spark

THRESHOLD = 0.95


def main() -> int:
    import semdedup_bench as sb

    import mover_spark.operators.similarity as S
    from mover_spark import memo
    from mover_spark.operators.similarity import (
        auto_ivf_params,
        train_ivf_centroids,
    )

    n = int(sys.argv[1])
    budget = int(sys.argv[2]) if len(sys.argv) > 2 else 131072
    spark = get_spark("subdiv-parity")
    spark.sparkContext.setLogLevel("ERROR")
    fix_dir = os.path.join(REPO, ".bench", f"semdedup_{n}")
    path = os.path.join(fix_dir, "embeddings.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(fix_dir, exist_ok=True)
        sb.perturbed_embeddings(spark, n).write.mode("overwrite").parquet(path)
    emb = spark.read.parquet(path)
    n_cells, _ = auto_ivf_params(n)
    cents = train_ivf_centroids(emb, n_cells)

    def run(tag: str):
        orig = S._subdivide_cells
        S._subdivide_cells = lambda a, s, start_id, max_depth=3: orig(
            a, s, start_id, max_depth, mode=tag
        )
        try:
            t0 = time.monotonic()
            out = S.semantic_dedup(
                emb, threshold=THRESHOLD, centroids=cents, max_cell_pairs=budget
            ).persist()
            d = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("is_kept").cast("long")).alias("kept"),
                F.expr(
                    "sum(cast(xxhash64(vec_id, cell, cluster_id, is_kept) "
                    "as decimal(38,0)))"
                ).alias("hsum"),
            ).collect()[0]
            sec = round(time.monotonic() - t0, 1)
            out.unpersist()
            memo.clear()
            return sec, (int(d.n), int(d.kept), int(d.hsum))
        finally:
            S._subdivide_cells = orig

    exec_sec, exec_digest = run("executor")
    drv_sec, drv_digest = run("driver")
    print(
        json.dumps(
            {
                "n": n,
                "max_cell_pairs": budget,
                "executor_sec": exec_sec,
                "driver_sec": drv_sec,
                "identical": exec_digest == drv_digest,
                "n_rows": exec_digest[0],
                "kept": exec_digest[1],
            }
        )
    )
    return 0 if exec_digest == drv_digest else 1


if __name__ == "__main__":
    sys.exit(main())
