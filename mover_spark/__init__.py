"""mover_spark — a PySpark-native analytics/ETL engine with the capability
surface of ulule/mover (reference: /root/reference, read-only), re-designed
Spark-first, plus large-scale training-data-pipeline operators (dedup,
similarity search, text analysis, event windowing).

Layout
------
- ``session``    SparkSession factory sized to the host's CPUs + cluster-safe confs
- ``catalog``    Table/Column/FK metadata (mover's dynamic-introspection posture;
                 reference: dialect/dialect.go:23-107) backed by parquet fixtures
                 + an FK sidecar
- ``config``     mover's config.json format, verbatim (config/config.go:11-52)
- ``engine``     Engine facade: describe / extract / load (etl/engine.go)
- ``operators``  closure (BFS FK-reachability), sanitize, dedup, similarity,
                 text analysis, lexical/hybrid retrieval, event windows
- ``sources``    JSON envelope source/sink (etl/engine.go:141-164, loader.go),
                 JDBC catalog/upsert (gated; no DB in the test env),
                 versioned parquet snapshots (manifest time travel)
- ``streaming``  Structured Streaming ingest over the events table
"""

__version__ = "0.1.0"

#: The declared public API. Everything else under mover_spark.* is
#: implementation surface that may move between minor versions; these
#: names are importable from the package root and stable:
#:   from mover_spark import Engine, Catalog, MoverConfig, get_spark
__all__ = [
    "Catalog",
    "Engine",
    "MoverConfig",
    "TABLES",
    "get_spark",
    "read_table",
    "tune",
    "__version__",
]


def __getattr__(name):
    # lazy re-exports: importing mover_spark stays cheap (no SparkSession
    # machinery, numpy, or pandas pulled in until a facade is touched),
    # which keeps `import mover_spark` usable for version/metadata probes
    # in environments without a JVM
    if name in ("Catalog", "read_table"):
        from . import catalog

        return getattr(catalog, name)
    if name == "Engine":
        from .engine import Engine

        return Engine
    if name == "MoverConfig":
        from .config import MoverConfig

        return MoverConfig
    if name in ("get_spark", "tune"):
        from . import session

        return getattr(session, name)
    raise AttributeError(f"module 'mover_spark' has no attribute {name!r}")


TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
