"""SparkSession factory + per-session tuning.

The driver hands our entrypoints an existing SparkSession, so tuning is split:
``get_spark`` builds a session for tests/bench; ``tune`` applies the
runtime-settable confs to ANY session (driver-provided included).

Scale posture: AQE on (runtime coalesce + skew-join), shuffle partitions equal
to the session's task slots, UTC timezone so timestamp semantics match the
DuckDB oracle, Arrow on for the few pandas-UDF paths.

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
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
