"""Transitive FK-closure extraction — the reference's flagship operator,
re-expressed as a semi-naive BFS over DataFrames.

Reference semantics (all in /root/reference/etl/extractor.go):
- a row is expanded at most once, memoized *before* expansion so FK cycles and
  self-references terminate (extractor.go:96-103)
- every non-null FK column dereferences its parent row, recursing at depth+2
  (extractor.go:106-129)
- reverse FKs ("reference keys") fan out ONLY from depth-0 rows unless the
  constraint name is allowlisted in config, in which case any depth; recursion
  at depth+2 (extractor.go:40-50,52-68)
- per-schema templated config queries run for every row, `{attr}` substituted
  from the row, recursing at depth+1 (extractor.go:70-79)
- PK-dedup of the extracted rows happens downstream in the sanitizer
  (etl/sanitizer.go:38-64), not here

Spark re-design — KEY-SET semantics, not row-PK memoization. The reference
assumes every table has a unique single-column PK (dialect/dialect.go:32-34);
real data (our lineitem fixture) breaks that. Instead we memoize *access
keys*: for each (table, access-column-tuple) pair we keep the key values
already fetched; a round anti-joins its candidate keys against that set,
then fetches rows by semi-join. Every fetched row is new by construction
(fresh keys only), each key is fetched at most once per access path, and
termination needs no PK at all. This subsumes the reference's query-result
cache (extractor.go:146-165) — `query+args` memoization IS key-set
memoization when queries are generated from keys.

Scale: rounds are bounded by the FK-graph diameter, not the row count. A
round unions its semi-join fetches per target table and materializes each
union once, the round's targets concurrently (their small jobs share the
session's task slots), as an eager local checkpoint whose row count is
observed on the same job (no emptiness probe). Seen keys are projections of
those checkpoints, so no round's plan embeds an earlier one: plans keep a
constant size at any depth.
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..util import map_concurrent

log = logging.getLogger(__name__)

#: `{attr}` template var — same regex as the reference (etl/sanitizer.go:15).
ATTR_RE = re.compile(r"\{(?P<attr>\w+)\}")

#: Config-query shapes compiled to ONE semi-join instead of per-value SQL:
#: `SELECT * FROM t WHERE c1 = {a1} AND c2 = {a2} AND c3 IN ({a3}) ...`.
#: (`IN ({attr})` == `= {attr}` — mover substitutes a single value per row.)
_SELECT_WHERE_RE = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+(?P<table>\w+)\s+WHERE\s+(?P<preds>.+?)\s*;?\s*$",
    re.IGNORECASE,
)
_EQ_PRED_RE = re.compile(
    r"^\s*(?P<col>\w+)\s*(?:=\s*\{(?P<attr>\w+)\}"
    r"|IN\s*\(\s*\{(?P<attr2>\w+)\}\s*\))\s*$",
    re.IGNORECASE,
)

#: Safety valve for the driver-loop fallback: a template with OR / ranges /
#: arbitrary SQL runs once per distinct attr tuple; beyond this many tuples
#: it is a driver bottleneck by construction and we fail loudly instead.
#:
#: DRIVER-MEMORY/LATENCY BOUND: the fallback collects up to this many
#: distinct attr tuples to the driver and issues one spark.sql() per tuple
#: sequentially — worst case CAP queries per frontier per config template.
#: Memory is trivial (<= CAP small tuples); the real bound is round-trip
#: latency, which is why the cap is a hard error rather than a truncation:
#: at 100-TB scale a non-compilable template with a wide frontier must be
#: rewritten as conjunctive equality predicates (which compile to ONE
#: distributed multi-column semi-join, no collect at all) instead of
#: silently degrading. The reference has no cap — it runs every template
#: once per ROW (extractor.go:70-79), strictly worse.
CONFIG_QUERY_FALLBACK_CAP = 1000


def compile_config_query(template: str) -> tuple[str, list[tuple[str, str]]] | None:
    """Parse a conjunctive-equality config template into
    (table, [(column, attr), ...]) — or None if the SQL is anything richer
    (OR, parens, ranges, literals), which falls back to the capped driver
    loop. Compiled templates run as ONE multi-column semi-join per frontier
    batch: fully distributed, no row values ever reach the driver."""
    m = _SELECT_WHERE_RE.match(template)
    if not m:
        return None
    pairs: list[tuple[str, str]] = []
    for pred in re.split(r"\s+AND\s+", m.group("preds"), flags=re.IGNORECASE):
        pm = _EQ_PRED_RE.match(pred)
        if not pm:
            return None
        pairs.append((pm.group("col"), pm.group("attr") or pm.group("attr2")))
    if len({c for c, _ in pairs}) != len(pairs):
        return None  # `c = {a1} AND c = {a2}` can't be one equi-join key
    return m.group("table"), pairs


@dataclass
class SchemaConfig:
    """Per-table closure config (config/config.go:39-46)."""

    table_name: str
    omit_reference_keys: bool = False
    reference_keys: list[str] = field(default_factory=list)  # allowlisted names
    queries: list[tuple[str, str]] = field(default_factory=list)  # (table, template)


@dataclass
class _Frontier:
    table: str
    df: DataFrame
    seed: bool  # depth 0: reverse FKs fan out without an allowlist


#: Tags each fetched row with the access path that fetched it, so a path
#: records only its own keys as seen: an order fetched by o_orderkey says
#: nothing about the other orders of its o_custkey.
_PATH = "__closure_path"


class _KeySets:
    """seen[(table, cols)] -> union of key projections of checkpoints, so
    an anti-join against a seen set never re-plans an earlier round."""

    def __init__(self):
        self._sets: dict[tuple[str, tuple[str, ...]], DataFrame] = {}

    def add(self, table: str, cols, keys: DataFrame) -> None:
        k = (table, tuple(cols))
        seen = self._sets.get(k)
        self._sets[k] = keys if seen is None else seen.unionByName(keys)

    def unseen(self, table: str, cols, rows: DataFrame) -> DataFrame:
        """Anti-join `rows` against the seen set on `cols`."""
        seen = self._sets.get((table, tuple(cols)))
        return rows if seen is None else rows.join(seen, on=list(cols), how="left_anti")


def _checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize `df` as an eager local checkpoint; count it on the same job."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
    return df, obs.get["rows"]


def _fetch(catalog: Catalog, seen: _KeySets, target: str, paths: dict) -> tuple[DataFrame, int]:
    """One round's fetch of `target`: each access path's unseen candidate
    keys semi-joined against the table, the paths unioned, materialized
    once. Every fetched row is new on its path by construction."""
    tgt = catalog.table(target)
    pks = tuple(tgt.primary_keys)
    parts = []
    for i, (cols, cands) in enumerate(paths.items()):
        # no dropDuplicates: semi- and anti-joins ignore duplicate keys
        keys = seen.unseen(target, cols, reduce(DataFrame.unionByName, cands))
        rows = catalog.df(target).join(keys, on=list(cols), how="left_semi")
        parts.append(rows.withColumn(_PATH, F.lit(i)))
    rows = reduce(DataFrame.unionByName, parts)
    # Row-level memoization across access paths: a row already fetched by
    # another path (orders by o_custkey, then via lineitem's FK by
    # o_orderkey), or by two paths in this round, must not re-enter. Only
    # valid when the PK is genuinely unique; lineitem keeps one copy per
    # path (the sanitizer's PK-dedup is off for it too).
    if tgt.pk_unique:
        if any(cols != pks for cols in paths):
            rows = seen.unseen(target, pks, rows)
        if len(parts) > 1:
            rows = rows.dropDuplicates(list(pks))
    fetched, n = _checkpoint(rows)
    if n:
        for i, cols in enumerate(paths):
            if not (tgt.pk_unique and cols == pks):
                seen.add(target, cols, fetched.where(F.col(_PATH) == i).select(*cols))
        if tgt.pk_unique:
            seen.add(target, pks, fetched.select(*pks))
    return fetched.drop(_PATH), n


def extract_closure(
    spark: SparkSession,
    catalog: Catalog,
    seeds: list[tuple[str, DataFrame]],
    schema_config: dict[str, SchemaConfig] | None = None,
    max_iterations: int = 200,
) -> dict[str, DataFrame]:
    """Compute the row set reachable from `seeds` over the catalog's FK graph.

    Returns {table_name: DataFrame}. Output preserves multiplicity (the
    reference dedups by PK only in the sanitize pass); rows fetched by the
    engine itself are duplicate-free per access path by construction.

    Cache ownership: every returned frame is a union of eager local
    checkpoints (the seeds and each round's fetch of the table). For a
    JDBC-sourced closure that is snapshot consistency, not just speed: a
    checkpoint has no lineage back to the live database, so no later read
    can see different rows. The closure never releases them. The caller
    owns them; their blocks are freed once the caller drops the frames
    (Spark's ContextCleaner) or stops the session.
    """
    schema_config = schema_config or {}
    seen = _KeySets()
    # (target table, query text) memoization (extractor.go:146-156)
    seen_sql: set[tuple[str, str]] = set()
    extracted: dict[str, DataFrame] = {}
    frontiers: list[_Frontier] = []

    def _extracted(table: str, df: DataFrame) -> None:
        # same table reached twice (two seeds, or a later round): UNION,
        # don't overwrite — dropping earlier rows from the output while
        # still expanding them would silently truncate the extract envelope
        extracted[table] = (
            df
            if table not in extracted
            else extracted[table].unionByName(df, allowMissingColumns=True)
        )

    for t, df in seeds:
        df, n = _checkpoint(df)
        log.debug("closure seed %s: %d rows", t, n)
        pks = catalog.table(t).primary_keys
        # a seed query may project the PK away (the reference iterates the
        # row map and simply skips absent attrs, extractor.go:107-129) —
        # such seeds still expand, they just can't pre-memoize their PKs
        if all(c in df.columns for c in pks):
            seen.add(t, pks, df.select(*pks))
        _extracted(t, df)
        if n:
            frontiers.append(_Frontier(t, df, seed=True))

    iteration = 0
    while frontiers:
        iteration += 1
        if iteration > max_iterations:
            raise RuntimeError(
                f"closure did not converge in {max_iterations} iterations"
            )

        # Merge same-(table, seed, column-set) frontiers (the column set is
        # part of the key so two seeds of one table with different
        # projections merge with themselves, not against each other —
        # unionByName would throw).
        merged: dict[tuple[str, bool, tuple[str, ...]], _Frontier] = {}
        for fr in frontiers:
            key = (fr.table, fr.seed, tuple(sorted(fr.df.columns)))
            if key in merged:
                merged[key].df = merged[key].df.unionByName(fr.df)
            else:
                merged[key] = fr
        frontiers = []
        #: target -> access columns -> this round's candidate key frames
        wanted: dict[str, dict[tuple[str, ...], list[DataFrame]]] = {}

        def _want(target: str, cols: list[str], keys: DataFrame) -> None:
            wanted.setdefault(target, {}).setdefault(tuple(cols), []).append(keys)

        for (table, _seed, _cols), fr in merged.items():
            rows = fr.df
            tmeta = catalog.table(table)
            cfg = schema_config.get(table, SchemaConfig(table))

            # --- FK dereference (extractor.go:106-129): all non-null FK
            # values of this batch.
            for fk in tmeta.foreign_keys:
                if fk.ref_table not in catalog.tables:
                    continue
                # a projected seed may lack this FK's columns — skip the
                # edge like the reference skips attrs absent from the row
                # map (extractor.go:107-129), don't crash the extract
                if not all(c in rows.columns for c in fk.cols):
                    continue
                cond = F.lit(True)
                for c in fk.cols:  # nil FK values skipped (extractor.go:107-109)
                    cond = cond & F.col(c).isNotNull()
                keys = rows.where(cond).select(
                    *[F.col(c).alias(rc) for c, rc in zip(fk.cols, fk.ref_cols)]
                )
                _want(fk.ref_table, fk.ref_cols, keys)

            # --- Reverse-FK fan-out (extractor.go:40-50,52-68): automatic
            # only for depth-0 rows unless the constraint name is allowlisted.
            ref_keys = []
            if fr.seed and not cfg.omit_reference_keys:
                ref_keys.extend(tmeta.reference_keys)
            for name in cfg.reference_keys:
                for rk in tmeta.reference_keys:
                    if rk.name == name and rk not in ref_keys:
                        ref_keys.append(rk)
            for rk in ref_keys:
                if not all(c in rows.columns for c in rk.parent_cols):
                    continue  # projected frontier lacks the parent columns
                keys = rows.select(
                    *[F.col(p).alias(c) for p, c in zip(rk.parent_cols, rk.child_cols)]
                )
                _want(rk.child_table, rk.child_cols, keys)

            # --- Config queries (extractor.go:70-79): any conjunction of
            # equality/IN templates compiles to ONE multi-column semi-join;
            # only genuinely arbitrary SQL (OR, ranges, literals) falls back
            # to a cardinality-capped driver loop (the reference runs every
            # template once per ROW, strictly worse).
            for qtable, template in cfg.queries:
                compiled = compile_config_query(template)
                if (
                    compiled
                    and compiled[0].lower() == qtable.lower()
                    and all(attr in rows.columns for _, attr in compiled[1])
                ):
                    pairs = compiled[1]
                    keys = rows.select(*[F.col(a).alias(c) for c, a in pairs])
                    _want(qtable, [c for c, _ in pairs], keys)
                else:
                    tmpl_attrs = set(ATTR_RE.findall(template))
                    missing = sorted(tmpl_attrs - set(rows.columns))
                    if missing:
                        # substituting only the known attrs would leave
                        # literal '{x}' in the SQL and die later in the
                        # parser with an opaque error — fail at the config
                        # boundary with the actual problem instead
                        raise RuntimeError(
                            f"config query for {qtable!r} references "
                            f"attrs {missing} not present on frontier "
                            f"table {table!r} (columns: "
                            f"{sorted(rows.columns)}): {template!r}"
                        )
                    attrs = sorted(tmpl_attrs)
                    tuples = (
                        rows.select(*attrs)
                        .distinct()
                        .limit(CONFIG_QUERY_FALLBACK_CAP + 1)
                        .collect()
                    )
                    if len(tuples) > CONFIG_QUERY_FALLBACK_CAP:
                        raise RuntimeError(
                            f"config query for {qtable!r} is not compilable to a "
                            f"semi-join and its attr tuple cardinality exceeds "
                            f"{CONFIG_QUERY_FALLBACK_CAP}; rewrite the template as "
                            f"conjunctive equality predicates or reduce the "
                            f"frontier: {template!r}"
                        )
                    for vals in tuples:
                        sql = template
                        for a in attrs:
                            sql = sql.replace("{%s}" % a, _format_value(vals[a]))
                        # memoize per TARGET table, as the reference keys
                        # its cache e.extract[tableName][query+args]
                        # (extractor.go:146-156) — a global key would skip
                        # the second table when two tables declare an
                        # identical template
                        if (qtable, sql) in seen_sql:
                            continue
                        seen_sql.add((qtable, sql))
                        sub = spark.sql(sql).persist()
                        if sub.isEmpty():
                            sub.unpersist()
                            continue
                        _extracted(qtable, sub)
                        # a target outside the catalog still extracts, but
                        # can't expand (no FK metadata to walk)
                        if qtable in catalog.tables:
                            frontiers.append(_Frontier(qtable, sub, seed=False))

        # one materialization per target table per round, the targets'
        # fetches run side by side: _fetch writes only seen[(target, ...)],
        # and one round's targets are distinct, so no two calls touch the
        # same key set
        fetches = map_concurrent(
            spark, lambda tp: _fetch(catalog, seen, *tp), list(wanted.items())
        )
        for target, (fetched, n) in zip(wanted, fetches):
            log.debug("closure round %d: %s +%d rows", iteration, target, n)
            if n:
                _extracted(target, fetched)
                frontiers.append(_Frontier(target, fetched, seed=False))

    return extracted


def _format_value(v) -> str:
    """Go-%v-style substitution (etl/sanitizer.go:110-124); SQL-quoted.
    Dates/timestamps quote as ISO literals and bools render as SQL
    keywords — str() would splice `o_orderdate = 1995-03-15` into the
    query, which the parser happily evaluates as integer subtraction
    (1977) and silently matches nothing."""
    import datetime as _dt

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, _dt.datetime):
        return "'" + v.isoformat(sep=" ") + "'"
    if isinstance(v, _dt.date):
        return "'" + v.isoformat() + "'"
    return str(v)


def closure_summary(extracted: dict[str, DataFrame]) -> DataFrame:
    """Per-table row counts of an extract — stable, oracle-checkable shape.
    One union-of-counts job instead of one count action per table."""
    counts = [
        df.agg(F.count(F.lit(1)).alias("row_count")).select(
            F.lit(t).alias("table_name"), "row_count"
        )
        for t, df in extracted.items()
    ]
    return reduce(lambda a, b: a.unionByName(b), counts).orderBy("table_name")
