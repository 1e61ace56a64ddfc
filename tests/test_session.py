"""The session factory's host-derived defaults."""

from mover_spark.session import driver_memory


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
