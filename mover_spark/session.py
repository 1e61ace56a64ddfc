"""SparkSession factory + per-session tuning.

The driver hands our entrypoints an existing SparkSession, so tuning is split:
``get_spark`` builds a session for tests/bench; ``tune`` applies the
runtime-settable confs to ANY session (driver-provided included).

Scale posture: AQE on (runtime coalesce + skew-join), shuffle partitions equal
to the session's task slots, UTC timezone so timestamp semantics match the
DuckDB oracle, Arrow on for the few pandas-UDF paths, and a whole-stage codegen
cache that holds every class the program generates (``CODEGEN_CACHE_ENTRIES``).

Spark keeps compiled codegen classes in one JVM-wide LRU cache keyed by the
generated source. Its size, ``spark.sql.codegen.cache.maxEntries``, is a static
conf and defaults to 100, far below the distinct classes of one pipeline pass
or of the query suite, so at the default every pass after the first
recompiles nearly all it compiled before. Being static, it can only be set
when the JVM's first session is built: ``get_spark`` sets it, ``tune`` cannot,
and a session handed in by a driver keeps whatever cache its builder chose.

Task slots are ``sparkContext.defaultParallelism``: N for ``local[N]`` (N is
``SPARK_GRAFT_CPUS``, else the process's CPU affinity count), the executor
cores for a cluster session. Shuffle width is the per-job fan-out every
operator pays, and it also fixes the partition count of every persisted memo
and eager ``localCheckpoint``, which AQE cannot coalesce later (see the
``canChangeCachedPlanOutputPartitioning`` note below). A fixed width wider
than the slots only multiplies per-task fixed cost on small jobs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs settable at runtime on a live session.
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # dims (region/nation/supplier/part at our SFs) should broadcast
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # NOTE: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning was
    # tried here (lets AQE coalesce downstream of persisted inputs) and
    # REVERTED: across the full 132-query suite it regressed unrelated
    # queries ~2x steady-state (planning-time interaction with the many
    # accumulated cached plans), far outweighing the small-cached-input
    # stage-overhead win it bought the dedup consumers.
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent), and size
    shuffles to the session's task slots."""
    confs = dict(RUNTIME_CONF)
    try:
        confs["spark.sql.shuffle.partitions"] = str(spark.sparkContext.defaultParallelism)
    except AttributeError:
        pass  # a Spark Connect session has no SparkContext — keep its width
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build — keep going
    return spark


#: Entries of Spark's compiled-class cache (``spark.sql.codegen.cache.maxEntries``,
#: default 100). The 171-query suite at sf0.01, run twice in one session,
#: generated 2,086-2,110 distinct classes in two measured runs (2,032 in the
#: first pass, 54-78 new in the second); this is the smallest power of two
#: above that. The tier-1 test session generates 4,394 unbounded, mostly
#: one-off plans with per-test literals, and compiled 4,393 at this bound, so
#: what the bound evicts there does not recur. The bound stops a long-lived
#: session whose plans inline per-call literals from growing Metaspace
#: without limit.
CODEGEN_CACHE_ENTRIES = 4096

#: Upper bound of the default driver heap.
MAX_DRIVER_MEMORY_MB = 16 * 1024


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else half the host's RAM
    (``MemTotal``) capped at 16g. The JVM's own overhead and the Python
    workers come on top of the heap, so a heap sized to the whole host lets
    one runaway query take the machine down. Without a readable meminfo
    (non-Linux) the default is the cap."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{MAX_DRIVER_MEMORY_MB}m"
    return f"{min(kb // 2048, MAX_DRIVER_MEMORY_MB)}m"


def default_cpus() -> str:
    """``SPARK_GRAFT_CPUS`` if set, else the number of CPUs this process may
    run on (its affinity mask, which a container's cpuset narrows below the
    host's core count)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "mover-spark", cpus: str | None = None) -> SparkSession:
    """A ``local[cpus]`` session with the static confs only a builder can set
    (driver heap, codegen cache size, scan split size) and ``tune``'s runtime
    confs. The codegen cache holds ``CODEGEN_CACHE_ENTRIES`` classes, so a
    generated class compiles once per JVM and every later pass, query or test
    that generates the same source reuses it. If a session already runs in
    this process, ``getOrCreate`` returns it and its static confs stay as its
    builder set them."""
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
