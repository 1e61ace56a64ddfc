"""The session factory's host-derived defaults."""

import os

from pyspark.sql import functions as F

from mover_spark.session import default_cpus, driver_memory, tune


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_of_host_ram(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    # a 15 GB host gets a 7.5 GB heap, not the 16g that outgrew it
    assert driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "7680m"


def test_driver_memory_capped_at_16g(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "16384m"


def test_driver_memory_without_meminfo_is_the_cap(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(str(tmp_path / "missing")) == "16384m"


def test_driver_memory_env_overrides(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "3g"


def test_default_cpus_is_the_affinity_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))


def test_default_cpus_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"


def test_tune_sizes_shuffles_to_task_slots(spark):
    slots = str(spark.sparkContext.defaultParallelism)
    key = "spark.sql.shuffle.partitions"
    tune(spark)
    assert spark.conf.get(key) == slots
    other = str(int(slots) * 8 + 1)
    spark.conf.set(key, other)
    try:
        tune(spark)
        assert spark.conf.get(key) == slots
    finally:
        spark.conf.set(key, slots)


def test_codegen_cache_holds_a_pass_of_distinct_plans(spark):
    # 150 plans whose generated classes differ only in inlined literals:
    # more than Spark's default cache of 100 holds, so an LRU at the
    # default misses every one of them again in the second round
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    plans = [
        spark.range(8).select((F.col("id") * k + k).alias("x")).where(F.col("x") > k)
        for k in range(1_000_003, 1_000_153)
    ]
    counts = []
    for _ in range(2):
        c0 = metrics.METRIC_COMPILATION_TIME().getCount()
        for df in plans:
            df.collect()
        counts.append(metrics.METRIC_COMPILATION_TIME().getCount() - c0)
    assert counts[0] >= len(plans)  # each plan compiled at least one class
    assert counts[1] <= 5, counts
