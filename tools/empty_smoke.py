"""Empty-input smoke sweep: every queries() entry must RUN (not
necessarily return rows) against a dataset whose tables all have the
right schema and ZERO rows.

Why this matters at 100 TB: partition pruning, a selective filter, or a
fresh tenant routinely hands any operator an empty relation mid-plan.
Iterative drivers (closure, connected components, k-means training),
statistical kernels (percentile bucketing, stddev), and aggregate-seeded
builds (bloom treeAggregate, LSH banding) are the classic empty-input
crashers — this sweep executes all of them end-to-end on empty tables.

Usage: python tools/empty_smoke.py [--only q1,q2]
Exit code 0 = every query ran; 1 = at least one raised.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC_SF = "/root/testdata/sf0.001"


def make_empty_mirror(spark, dest: str) -> None:
    for name in os.listdir(SRC_SF):
        if not name.endswith(".parquet"):
            continue
        df = spark.read.parquet(os.path.join(SRC_SF, name))
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(dest, name)
        )


def remove_query_fixtures(dest: str) -> None:
    """Remove the index and snapshot dirs the queries built for the empty
    mirror: they are keyed by its basename, under /tmp/mover_spark_*/
    (the signature indexes one level deeper, under a format version)."""
    name = os.path.basename(dest)
    for pattern in ("/tmp/mover_spark_*/", "/tmp/mover_spark_*/*/"):
        for path in glob.glob(pattern + name):
            shutil.rmtree(path, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    import __spark_entry__ as e
    from mover_spark.session import get_spark

    spark = get_spark("empty-smoke")
    dest = tempfile.mkdtemp(prefix="empty_sf_")
    failures: list[tuple[str, str]] = []
    try:
        make_empty_mirror(spark, dest)
        qs = e.queries()
        if args.only:
            keep = set(args.only.split(","))
            qs = {k: v for k, v in qs.items() if k in keep}
        for name, fn in qs.items():
            t0 = time.time()
            try:
                n = fn(spark, dest).count()
                print(f"ok    {name:42s} rows={n:<4d} {time.time()-t0:5.1f}s", flush=True)
            except Exception:
                tb = traceback.format_exc()
                failures.append((name, tb))
                last = tb.strip().splitlines()[-1][:180]
                print(f"FAIL  {name:42s} {last}", flush=True)
    finally:
        shutil.rmtree(dest, ignore_errors=True)
        remove_query_fixtures(dest)
        spark.stop()

    print(f"\n{len(failures)} failures / {len(qs)} queries")
    for name, tb in failures:
        print(f"\n=== {name} ===\n{tb}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
