"""Quarantine-ingest scale bench (round-10 verdict item 7): build an
sf10-equivalent JSONL landing zone (~500k document rows, ~1% malformed
lines) from the .bench/sf10 documents fixture, then time the write-through
pattern (ingest_jsonl_quarantine: good -> parquet, bad -> text prefix,
cache released) in a fresh process.

The corrupted lines are deterministic (every 100th line has its closing
brace cut), so the expected split is exact and re-runs reproduce it.

Usage: python tools/quarantine_bench.py [build|ingest] [landing_dir]
Prints one JSON line with wall clock and the split counts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mover_spark.session import get_spark


def main() -> int:
    op = sys.argv[1] if len(sys.argv) > 1 else "ingest"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    landing = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(repo, ".bench", "quarantine_landing")
    )
    spark = get_spark("quarantine-bench")
    spark.sparkContext.setLogLevel("ERROR")

    src = os.path.join(landing, "jsonl")
    if op == "build" or not os.path.isdir(src):
        docs = spark.read.parquet(os.path.join(repo, ".bench/sf10/documents.parquet"))
        # render each row as a JSON line; every 100th line loses its last
        # character (the closing brace) -> guaranteed parse failure while
        # staying byte-preservable
        lines = docs.select(
            F.col("doc_id"),
            F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars")).alias(
                "line"
            ),
        ).select(
            F.when(
                F.col("doc_id") % 100 == 37,
                F.expr("substring(line, 1, length(line) - 1)"),
            )
            .otherwise(F.col("line"))
            .alias("value")
        )
        t0 = time.monotonic()
        lines.write.mode("overwrite").text(src)
        if op == "build":
            print(
                json.dumps(
                    {"op": "build", "sec": round(time.monotonic() - t0, 1)}
                )
            )
            return 0

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mover_spark.sources.formats import ingest_jsonl_quarantine

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = n_cached()
    t0 = time.monotonic()
    n_good, n_bad = ingest_jsonl_quarantine(
        spark,
        src,
        schema,
        os.path.join(landing, "good"),
        os.path.join(landing, "bad"),
    )
    sec = round(time.monotonic() - t0, 1)
    print(
        json.dumps(
            {
                "op": "ingest",
                "sec": sec,
                "n_good": n_good,
                "n_quarantined": n_bad,
                "cache_released": n_cached() == before,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
