"""SparkSession factory + per-session tuning.

The driver hands our entrypoints an existing SparkSession, so tuning is split:
``get_spark`` builds a session for tests/bench; ``tune`` applies the
runtime-settable confs to ANY session (driver-provided included).

Scale posture: AQE on (runtime coalesce + skew-join), shuffle partitions sized
by env, UTC timezone so timestamp semantics match the DuckDB oracle, Arrow on
for the few pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

#: Confs settable at runtime on a live session.
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
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
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONF.items():
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


def get_spark(app_name: str = "mover-spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
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
