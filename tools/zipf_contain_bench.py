"""Shingle-level dedup A/B on the Zipf realistic-vocabulary corpus
(round-10 verdict item 1): containment_lsh with and without the pair-free
df>=2 pruning lever, plus dedup_minhash_lsh / substring_dup_spans control
rows on the same fixture.

On the standard ~30-word-vocabulary fixtures every shingle is globally
shared, so the prune keeps ~100% of docs by construction (round 10
measured 499,000/499,200 inner-eligible and rejected the lever as
vacuous). The Zipf ~50k-term corpus has realistic shingle document
frequencies — most word bigrams are rare — so the prune has something to
prune. This harness also PLANTS 4x and 8x containers (containment exactly
1.0) so both arms carry a recall assertion, and cross-checks the two arms'
output row count + order-free xor checksum (the pruning lever is provably
exact; the checksum makes that a measurement).

Fixture build is idempotent: <out>/documents.parquet is written once from
make_zipf_docs.zipf_documents + deterministic planted containers
(container text = base text + hash-derived Zipf filler, so its shingle
set is a superset of the base's).

Usage: python tools/zipf_contain_bench.py <factor 100|1000> <op> [dir]
  op in {contain_on, contain_off, minhash, substring, build}
Prints one JSON line with wall clock, output count, checksum, and the
planted-recall verdict (containment ops).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mover_spark.session import get_spark

PLANT_4X_MOD = 1000  # doc_id % 1000 == 7 gets a 4x container
PLANT_8X_MOD = 1000  # doc_id % 1000 == 13 gets an 8x container
THRESHOLD = 0.95


def _ensure_fixture(spark, factor: int, out_dir: str) -> str:
    from tools.make_zipf_docs import BASE_DOCS, zipf_documents

    path = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    os.makedirs(out_dir, exist_ok=True)
    n = BASE_DOCS * factor
    base = zipf_documents(spark, n)

    def filler(mult: int, salt: int):
        # (mult-1) x the base word count of extra Zipf words, hash-keyed by
        # (doc_id, salt, position) so the filler is deterministic but
        # distinct from every base doc's stream
        word = (
            "concat('w', cast(pow(50000, pmod(xxhash64(doc_id, {s}, f), 16777216) "
            "/ 16777216.0) as int))".format(s=salt)
        )
        return F.array_join(
            F.expr(
                f"transform(sequence(1, {mult - 1} * (30 + pmod(xxhash64(doc_id), 41))), "
                f"f -> {word})"
            ),
            " ",
        )

    containers = []
    for mod_val, mult, salt, id_off in ((7, 4, 101, n), (13, 8, 202, 2 * n)):
        containers.append(
            base.where(F.col("doc_id") % PLANT_4X_MOD == mod_val).select(
                (F.col("doc_id") + id_off).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" "), filler(mult, salt)).alias("text"),
                "lang",
                "source",
            )
        )
    docs = base.select("doc_id", "text", "lang", "source")
    for c in containers:
        docs = docs.unionByName(c)
    docs = docs.withColumn("n_chars", F.length("text").cast("long"))
    docs.write.mode("overwrite").parquet(path)
    return path


def main() -> int:
    factor = int(sys.argv[1])
    op = sys.argv[2]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.path.join(repo, ".bench", f"zipf_contain_sf{factor / 10:g}")
    )
    spark = get_spark("zipf-contain")
    spark.sparkContext.setLogLevel("ERROR")
    path = _ensure_fixture(spark, factor, out_dir)
    if op == "build":
        print(json.dumps({"op": "build", "n": spark.read.parquet(path).count()}))
        return 0
    docs = spark.read.parquet(path)
    n_base = 5_000 * factor

    out: dict = {"op": op, "factor": factor}
    t0 = time.monotonic()
    if op in ("contain_on", "contain_off"):
        from mover_spark.operators.dedup import containment_lsh

        pairs = containment_lsh(
            docs, threshold=THRESHOLD, prune_unique=(op == "contain_on")
        )
        agg = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "bit_xor(xxhash64(doc_inner, doc_outer, cast(containment * 1e6 as bigint)))"
            ).alias("checksum"),
            F.sum(
                (
                    (F.col("doc_inner") + F.lit(n_base) == F.col("doc_outer"))
                    | (F.col("doc_inner") + F.lit(2 * n_base) == F.col("doc_outer"))
                ).cast("long")
            ).alias("planted_found"),
        ).collect()[0]
        out["sec"] = round(time.monotonic() - t0, 1)
        expect_4x = sum(1 for i in range(n_base) if i % PLANT_4X_MOD == 7)
        expect_8x = sum(1 for i in range(n_base) if i % PLANT_8X_MOD == 13)
        out.update(
            n_pairs=agg.n,
            checksum=agg.checksum,
            planted_found=agg.planted_found,
            planted_expected=expect_4x + expect_8x,
        )
    elif op == "minhash":
        from mover_spark.operators.dedup import minhash_lsh_pairs

        agg = minhash_lsh_pairs(docs, threshold=0.8).agg(
            F.count(F.lit(1)).alias("n")
        ).collect()[0]
        out["sec"] = round(time.monotonic() - t0, 1)
        out["n_pairs"] = agg.n
    elif op == "substring":
        from mover_spark.operators.dedup import substring_dup_spans

        agg = substring_dup_spans(docs).agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_removed").alias("n_removed")
        ).collect()[0]
        out["sec"] = round(time.monotonic() - t0, 1)
        out["n_rows"] = agg.n
        out["n_removed"] = agg.n_removed
    else:
        raise SystemExit(f"unknown op {op}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
