"""Small parity helpers, and the one way to run Spark jobs side by side."""

from __future__ import annotations

import re
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait


def md5_i64(col, chars: int = 15):
    """Engine-portable 60-bit hash: the first 15 hex chars of md5 as int64.

    The value is identical in DuckDB via
    ``('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15))::BIGINT`` — unlike
    Spark-internal ``xxhash64``, which no other engine implements. 15 hex
    chars = 60 bits keeps the value strictly positive and far inside int64,
    so no signedness games on either side. All JVM-side (md5/substring/conv
    are codegen'd built-ins)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, chars), 16, 10).cast("long")


#: DuckDB rendering of md5_i64 for oracle SQL strings
MD5_I64_SQL = "('0x' || substr(md5(CAST({x} AS VARCHAR)), 1, 15))::BIGINT"

MIX31_P = (1 << 31) - 1  # Mersenne prime 2^31-1
MIX31_A = 506952114  # Knuth's 2^32/phi multiplier mod p — nonzero => bijection
MIX31_B = 40503


def mix31_i64(col):
    """Engine-portable arithmetic hash for NONNEGATIVE integral keys: affine
    map (A*x + B) mod the Mersenne prime 2^31-1, in plain bigint math — two
    multiplies instead of md5's per-row digest (the md5 swap cost
    sketch_kmv_distinct a 2x slowdown; this reclaims it). Every intermediate
    fits in 62 bits: x is reduced mod p BEFORE multiplying, so
    (p-1)*A + B < 2^62 — no overflow under Spark ANSI mode or DuckDB BIGINT
    math. Affine mod a prime is a bijection on [0, p), so distinct keys
    below 2^31 NEVER collide — for KMV that means the k-minimum set is
    collision-free, unlike any digest truncation."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    p = F.lit(MIX31_P)
    return F.pmod(F.pmod(c.cast("long"), p) * F.lit(MIX31_A) + F.lit(MIX31_B), p)


#: DuckDB rendering of mix31_i64 (nonnegative ids; % tracks dividend sign).
#: The BIGINT cast is load-bearing: DuckDB types bare int literals and
#: INT32 columns as INT32, and (x % p) * A overflows INT32 — property-
#: tested in tests/test_portable_hash.py
MIX31_SQL = "((CAST({x} AS BIGINT) % 2147483647) * 506952114 + 40503) % 2147483647"

#: table-name sniffing from a seed query — same regex as the reference
#: (/root/reference/etl/util.go:19); documentedly fails on subqueries and
#: quoted names (etl/util_test.go:9-13), so prefer an explicit -table arg.
QUERY_TABLE_RE = re.compile(
    r"^SELECT (?P<columns>.*[^T]) FROM (?P<table>\w+).*", re.IGNORECASE
)


def get_query_table(query: str) -> str:
    """Extract the target table from a seed SELECT (etl/util.go:38-46)."""
    m = QUERY_TABLE_RE.match(query.strip())
    if not m:
        raise ValueError(f"unable to retrieve table name from query: {query!r}")
    return m.group("table")


def staged_swap(spark, base: str, name: str) -> None:
    """Swap ``<base>/<name>_compact`` into place as ``<base>/<name>`` via
    two metadata renames: canonical -> ``_old``, ``_compact`` -> canonical,
    then delete ``_old``. Unlike delete-then-rename, the canonical path is
    absent only between the two renames (metadata ops, not a recursive
    delete of the data tree), and every intermediate state is recoverable:
    a crash leaves either ``_old`` or ``_compact`` on disk, which
    :func:`recover_staged_swap` repairs on the next read. Concurrent
    compactions of the SAME index are not supported (last writer wins) —
    run compaction from a single maintenance job, as with any parquet
    rewrite."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    cur = jvm.org.apache.hadoop.fs.Path(f"{base}/{name}")
    old = jvm.org.apache.hadoop.fs.Path(f"{base}/{name}_old")
    new = jvm.org.apache.hadoop.fs.Path(f"{base}/{name}_compact")
    fs = cur.getFileSystem(hconf)
    if fs.exists(old):  # leftover from a crashed swap; current is complete
        fs.delete(old, True)
    fs.rename(cur, old)
    fs.rename(new, cur)
    fs.delete(old, True)


def recover_staged_swap(spark, base: str, name: str) -> None:
    """Self-repair after a crash inside :func:`staged_swap`: if the
    canonical ``<base>/<name>`` is missing, promote whichever complete
    staging dataset survived (``_compact`` if the swap got that far, else
    ``_old``). No-op when the canonical path exists."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    cur = jvm.org.apache.hadoop.fs.Path(f"{base}/{name}")
    fs = cur.getFileSystem(hconf)
    if fs.exists(cur):
        return
    for suffix in ("_compact", "_old"):
        cand = jvm.org.apache.hadoop.fs.Path(f"{base}/{name}{suffix}")
        if fs.exists(cand):
            fs.rename(cand, cur)
            return


def map_concurrent(spark, fn, items) -> list:
    """``[fn(x) for x in items]``, with the calls run side by side on
    ``min(len(items), defaultParallelism)`` driver threads, so the small
    Spark jobs they launch share the session's task slots instead of
    queueing one after another (Spark runs jobs submitted from separate
    threads concurrently). Results come back in input order.

    Each call is wrapped by ``inheritable_thread_target(spark)`` here, at
    call time, so it runs under the caller's job group, description and
    tags; wrapping once per item gives every thread its own copy of the
    local properties. On failure the calls not yet started are cancelled
    and the first exception in input order is raised, but only after
    every started call has returned: no job outlives the helper."""
    from pyspark.util import inheritable_thread_target

    items = list(items)
    if not items:
        return []
    width = min(len(items), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=width) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), x) for x in items]
        wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            f.cancel()  # no-op once started
    # the pool starts calls in input order, so a raising call comes before
    # any cancelled one
    return [f.result() for f in futures]
