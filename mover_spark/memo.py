"""Session memos: one registry for every operator result that a Spark
session reuses across calls (signatures, pair sets, candidate sets, count
tables, term frequencies, loaded ANN indexes, cell assignments).

Contract:
- **Key.** ``cached(owner, tag, *params, build=...)`` with a DataFrame
  owner keys on (applicationId, analyzed-plan semanticHash, tag, params)
  and stamps the entry with the (path, size, mtime) of every file its
  file-source relations list; an input without files (a local relation, a
  checkpoint) has an empty stamp. With a SparkSession owner the key is
  (applicationId, tag, params) and the caller passes ``stamp``. The
  applicationId cannot be recycled after a ``stop()``, unlike ``id()``.
- **Freshness.** A key found with another stamp is evicted and rebuilt.
  Two fresh reads of one path share a semanticHash even after the file is
  rewritten under the same name, so the stamp is what tells them apart.
- **Release, chosen from the value.** A persisted DataFrame is unpersisted
  when evicted or cleared. An eager local checkpoint (its analyzed plan is
  a LogicalRDD) only loses the registry's reference when evicted, so a
  result the caller still holds stays readable; ``clear()`` releases its
  blocks, after which a stale plan over it fails loudly
  (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) instead of recomputing. Anything
  else is dropped. A tuple releases each member by its own rule.
- **Budget.** After each put the registry reads the session's RDD storage
  once and, while the bytes its entries hold exceed ``BUDGET_FRACTION`` of
  the storage memory the block managers report, evicts the least recently
  used entry that holds any, never the one just put. An entry that is not
  materialized yet holds 0 bytes. Entries of a stopped session are dropped
  at the next put. (Unbounded, a sf10 suite once stacked corpus-sized
  signature persists until a later operator ran the JVM heap out.)
- ``clear()`` releases every entry; ``stats()`` reports hits, misses,
  evictions, build seconds, resident bytes and the budget.
"""

from __future__ import annotations

import time
from collections import OrderedDict

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

#: share of the block managers' storage memory the registry may hold
BUDGET_FRACTION = 0.5

#: key -> (tag, value, stamp), least recently used first
_ENTRIES: OrderedDict = OrderedDict()
_COUNTS = {"hits": 0, "misses": 0, "evictions": 0, "build_s": 0.0}


def cached(owner: DataFrame | SparkSession, tag: str, *params, build, stamp=None):
    """The memoized ``build()`` for (owner, tag, params); see the module
    docstring for the key, stamp, release and budget rules."""
    if isinstance(owner, DataFrame):
        plan = owner._jdf.queryExecution().analyzed()  # noqa: SLF001
        sc = owner.sparkSession.sparkContext
        key = (sc.applicationId, plan.semanticHash(), tag, params)
        stamp = _fingerprint(plan)
    else:
        sc = owner.sparkContext
        key = (sc.applicationId, None, tag, params)
    hit = _ENTRIES.get(key)
    if hit is not None:
        if hit[2] == stamp:
            _ENTRIES.move_to_end(key)
            _COUNTS["hits"] += 1
            return hit[1]
        _evict(key)
    _COUNTS["misses"] += 1
    t0 = time.perf_counter()
    value = build()
    _COUNTS["build_s"] += time.perf_counter() - t0
    _ENTRIES[key] = (tag, value, stamp)
    for k in [k for k in _ENTRIES if k[0] != key[0]]:
        _evict(k)
    _enforce_budget(sc, key)
    return value


def clear() -> None:
    """Release every entry: unpersist persisted frames, free checkpoint
    blocks. Entries of a stopped session are dropped all the same."""
    while _ENTRIES:
        _release(_ENTRIES.popitem(last=False)[1][1], checkpoints=True)


def stats() -> dict:
    """Counters since the process started, plus what the entries hold now
    in the active session's storage and the budget they are held to."""
    sc = SparkContext._active_spark_context  # noqa: SLF001
    held = _held_bytes(sc) if sc is not None else {}
    return {
        "entries": len(_ENTRIES),
        **_COUNTS,
        "resident_bytes": sum(held.values()),
        "budget_bytes": _budget_bytes(sc) if sc is not None else 0,
    }


def entries(tag: str) -> list:
    """The values memoized under `tag`, least recently used first."""
    return [v for t, v, _ in _ENTRIES.values() if t == tag]


def release_checkpoint(df: DataFrame) -> None:
    """Drop a localCheckpoint'ed frame's storage blocks now instead of
    waiting for driver GC and the ContextCleaner. Only call once every
    consumer of the frame has materialized: a released checkpoint cannot
    recompute (its lineage is truncated), so a later read fails loudly.
    A frame that is not a LogicalRDD is left alone."""
    try:
        plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # release is an optimization; never let it sink the query


def _evict(key) -> None:
    _COUNTS["evictions"] += 1
    _release(_ENTRIES.pop(key)[1], checkpoints=False)


def _release(value, checkpoints: bool) -> None:
    if isinstance(value, tuple):
        for v in value:
            _release(v, checkpoints)
    elif isinstance(value, DataFrame):
        if value.is_cached:
            try:
                value.unpersist()
            except Exception:
                pass  # session already stopped: the entry is garbage either way
        elif checkpoints:
            release_checkpoint(value)


def _fingerprint(plan) -> tuple:
    """(path, size, mtime) of every file in the plan's file-source
    relations, as their file indexes listed them when the frame was read."""
    out = []
    leaves = plan.collectLeaves()
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            continue
        files = rel.location().allFiles()
        for j in range(files.length()):
            f = files.apply(j)
            out.append((f.getPath().toString(), f.getLen(), f.getModificationTime()))
    return tuple(sorted(out))


def _rdd_ids(value) -> list[int]:
    """Ids of the RDDs whose blocks hold `value`: the cached column
    buffers of a persisted frame once built, the RDD of a checkpoint."""
    if isinstance(value, tuple):
        return [i for v in value for i in _rdd_ids(v)]
    if not isinstance(value, DataFrame):
        return []
    try:
        qe = value._jdf.queryExecution()  # noqa: SLF001
        if value.is_cached:
            cached = qe.withCachedData()
            if cached.getClass().getSimpleName() == "InMemoryRelation":
                builder = cached.cacheBuilder()
                if builder.isCachedColumnBuffersLoaded():
                    return [builder.cachedColumnBuffers().id()]
        elif qe.analyzed().getClass().getSimpleName() == "LogicalRDD":
            return [qe.analyzed().rdd().id()]
    except Exception:
        pass  # session already stopped: nothing held
    return []


def _held_bytes(sc) -> dict:
    """key -> memory + disk bytes of the entry's blocks, from one read of
    the session's RDD storage."""
    infos = sc._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    size = {i.id(): i.memSize() + i.diskSize() for i in infos}
    return {k: sum(size.get(i, 0) for i in _rdd_ids(e[1])) for k, e in _ENTRIES.items()}


def _budget_bytes(sc) -> int:
    status = sc._jsc.sc().getExecutorMemoryStatus().values().iterator()  # noqa: SLF001
    total = 0
    while status.hasNext():
        total += status.next()._1()
    return int(total * BUDGET_FRACTION)


def _enforce_budget(sc, keep) -> None:
    held = _held_bytes(sc)
    total, budget = sum(held.values()), _budget_bytes(sc)
    for key, n in held.items():
        if total <= budget:
            break
        if n and key != keep:
            total -= n
            _evict(key)
