"""Checks of the program's outputs, computed apart from the program.

Nothing here imports Spark or mover_spark: expected values come from the
generated inputs through pyarrow, pandas and numpy, following the rules
the program documents. Every check raises ``CheckFailed`` with a short
reason; none compares against a stored copy of an earlier output.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq


class CheckFailed(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# ---------------------------------------------------------------------------
# subset extract
# ---------------------------------------------------------------------------


class StarClosure:
    """The FK closure of a seed customer set over the generated star schema,
    by mover's traversal rules: every non-null forward FK at any depth;
    reverse FKs from seed rows, and allowlisted reverse FKs from any row."""

    def __init__(self, src_dir: str, keys: dict, allow: set[str]):
        self.keys = keys
        self.allow = allow
        # column name -> list of Python values (None for null), per table
        self.tables = {
            t: pq.read_table(os.path.join(src_dir, f"{t}.parquet")).to_pydict()
            for t in keys
        }
        # reverse edges: parent table -> [(child table, child cols, parent cols, name)]
        self.reverse = defaultdict(list)
        for child, meta in keys.items():
            for fk in meta["fks"]:
                name = f"{child}_fk_{'_'.join(fk['cols'])}"
                self.reverse[fk["ref"]].append((child, fk["cols"], fk["ref_cols"], name))
        self._index: dict = {}

    def _rows_where(self, table: str, cols: list[str], values: set) -> set[int]:
        """Row positions of ``table`` whose ``cols`` tuple is in ``values``."""
        key = (table, tuple(cols))
        if key not in self._index:
            idx = defaultdict(list)
            for pos, tup in enumerate(zip(*(self.tables[table][c] for c in cols))):
                idx[tup].append(pos)
            self._index[key] = idx
        idx = self._index[key]
        return {p for v in values for p in idx.get(v, ())}

    def _values(self, table: str, rows: set[int], cols: list[str]) -> set:
        out = set()
        for r in rows:
            tup = tuple(self.tables[table][c][r] for c in cols)
            if None not in tup:
                out.add(tup)
        return out

    def rows(self, seed_keys: list[int]) -> dict[str, set[int]]:
        """Reached row positions per table."""
        seeds = self._rows_where("customer", ["c_custkey"], {(k,) for k in seed_keys})
        reached: dict[str, set[int]] = defaultdict(set)
        reached["customer"] |= seeds
        frontier = [("customer", seeds, True)]
        while frontier:
            nxt = []
            for table, rows, is_seed in frontier:
                edges = []
                for fk in self.keys[table]["fks"]:
                    edges.append((fk["ref"], fk["ref_cols"], self._values(table, rows, fk["cols"])))
                for child, ccols, pcols, name in self.reverse[table]:
                    if is_seed or name in self.allow:
                        edges.append((child, ccols, self._values(table, rows, pcols)))
                for target, cols, vals in edges:
                    new = self._rows_where(target, cols, vals) - reached[target]
                    if new:
                        reached[target] |= new
                        nxt.append((target, new, False))
            frontier = nxt
        return reached

    def key_sets(self, seed_keys: list[int]) -> dict[str, tuple[set, int]]:
        """Per table: (set of PK tuples, row count). Row count is the number
        of distinct PKs, except for tables whose PK is not unique."""
        out = {}
        for t, rows in self.rows(seed_keys).items():
            pk = self.keys[t]["pk"]
            keys = {tuple(self.tables[t][c][r] for c in pk) for r in rows}
            unique = self.keys[t].get("pk_unique", True)
            out[t] = (keys, len(keys) if unique else len(rows))
        return out


def read_envelopes(env_dir: str) -> dict[str, list[dict]]:
    """Rows of every partitioned envelope under ``env_dir`` (JSON lines)."""
    out = {}
    for manifest in glob.glob(os.path.join(env_dir, "*", "_envelope.json")):
        with open(manifest) as f:
            meta = json.load(f)
        rows = []
        for part in sorted(glob.glob(os.path.join(os.path.dirname(manifest), "part-*"))):
            with open(part) as f:
                rows.extend(json.loads(line) for line in f if line.strip())
        expect(
            meta["count"] == len(rows),
            f"{meta['table_name']}: manifest count {meta['count']} != {len(rows)} rows",
        )
        out[meta["table_name"]] = rows
    return out


def check_extract(env_dir: str, expected: dict, keys: dict, originals: dict) -> dict:
    """Envelope key sets and row counts equal the independent closure, and
    every sanitize rule held. Returns the envelope rows."""
    env = read_envelopes(env_dir)
    expect(set(env) == set(expected), f"envelope tables {sorted(env)} != {sorted(expected)}")
    for t, (want_keys, want_n) in expected.items():
        pk = keys[t]["pk"]
        got = {tuple(r[c] for c in pk) for r in env[t]}
        expect(got == want_keys, f"{t}: {len(got ^ want_keys)} keys differ from the closure")
        expect(len(env[t]) == want_n, f"{t}: {len(env[t])} rows, closure has {want_n}")
    cust = env["customer"]
    for r in cust:
        expect(r.get("c_address") == f"{r['c_custkey']} Main Street", "c_address template")
        expect(r.get("c_phone") is None, "c_phone not nulled")
    names = [r.get("c_name") for r in cust]
    expect(None not in names and len(set(names)) == len(names), "c_name fakes not unique")
    expect(not set(names) & originals["c_name"], "c_name keeps an original value")
    for r in env["supplier"]:
        expect(r.get("s_name") == f"Supplier {r['s_suppkey']}", "s_name template")
        expect(r.get("s_phone") is None, "s_phone not nulled")
    return env


def target_counts(target_dir: str) -> dict[str, int]:
    return {
        name[: -len(".parquet")]: pq.read_table(os.path.join(target_dir, name)).num_rows
        for name in os.listdir(target_dir)
        if name.endswith(".parquet")
    }


def check_load(target_dir: str, env: dict, keys: dict, before: dict | None) -> dict:
    """A load into an empty target holds the envelope's PK-deduplicated rows
    (all rows for tables whose PK is not unique); a reload appends 0 rows."""
    counts = target_counts(target_dir)
    for t, rows in env.items():
        if keys[t].get("pk_unique", True):
            want = len({tuple(r[c] for c in keys[t]["pk"]) for r in rows})
        else:
            want = len(rows)
        if before is not None:
            want = before[t]
        expect(counts.get(t) == want, f"target {t}: {counts.get(t)} rows, expected {want}")
    return counts


# ---------------------------------------------------------------------------
# corpus dedup
# ---------------------------------------------------------------------------

NEAR = 1e-6  # pairs this close to a threshold are not judged


def shingles(text: str) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + 2]) for i in range(len(w) - 1)}


def union_find_min(pairs, nodes=None) -> dict[int, int]:
    """node -> minimum node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for n in nodes or ():
        find(n)
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def check_pairs(rows, sh: dict, threshold: float, planted) -> None:
    """minhash_lsh_pairs: each pair clears ``threshold`` under exact Jaccard,
    and every planted pair is returned."""
    got = set()
    for a, b, j in rows:
        expect(a < b, f"pair ({a}, {b}) not ordered")
        inter = len(sh[a] & sh[b])
        exact = inter / (len(sh[a]) + len(sh[b]) - inter)
        expect(abs(round(exact, 6) - j) <= NEAR, f"jaccard ({a}, {b}) {j} != {exact}")
        if abs(exact - threshold) > NEAR:
            expect(exact >= threshold, f"pair ({a}, {b}) jaccard {exact} < {threshold}")
        got.add((a, b))
    expect(len(got) == len(rows), "duplicate pairs")
    missing = set(planted) - got
    expect(not missing, f"{len(missing)} planted near-duplicate pairs missing")


def check_containment(rows, sh: dict, threshold: float, planted) -> None:
    """containment_lsh: each (inner, outer) clears ``threshold`` under exact
    containment |inner & outer| / |inner|; every planted quote is returned."""
    got = set()
    for a, b, c in rows:
        expect(a != b, f"self pair {a}")
        exact = len(sh[a] & sh[b]) / len(sh[a])
        expect(abs(round(exact, 6) - c) <= NEAR, f"containment ({a}, {b}) {c} != {exact}")
        if abs(exact - threshold) > NEAR:
            expect(exact >= threshold, f"({a}, {b}) containment {exact} < {threshold}")
        got.add((a, b))
    expect(len(got) == len(rows), "duplicate containment pairs")
    missing = set(planted) - got
    expect(not missing, f"{len(missing)} planted containment pairs missing")


def check_semantic(rows, ids: list[int], vecs: np.ndarray, threshold: float) -> None:
    """semantic_dedup: within each returned cell, cluster ids equal a min-id
    union-find over pairs with exact quantized cosine >= ``threshold``, and
    the kept row of each cluster is its minimum id."""
    q = np.round(vecs * 1000).astype(np.int64)
    pos = {v: i for i, v in enumerate(ids)}
    expect(len(rows) == len(ids), f"{len(rows)} rows for {len(ids)} vectors")
    by_cell = defaultdict(list)
    for vid, cell, cid, kept in rows:
        by_cell[cell].append(vid)
        expect(kept == (cid == vid), f"vector {vid}: is_kept {kept} with cluster {cid}")
    want: dict[int, int] = {}
    for members in by_cell.values():
        m = np.array(members)
        a = q[[pos[v] for v in members]]
        norm = np.sqrt((a * a).sum(axis=1).astype(np.float64))
        cos = (a @ a.T).astype(np.float64) / (norm[:, None] * norm[None, :])
        ambiguous = np.abs(cos - threshold) <= NEAR
        i, j = np.nonzero((cos >= threshold) & ~ambiguous)
        edges = [(int(m[x]), int(m[y])) for x, y in zip(i, j) if x < y]
        want.update(union_find_min(edges, [int(v) for v in members]))
    got = {vid: cid for vid, _, cid, _ in rows}
    expect(got == want, f"{sum(got[k] != v for k, v in want.items())} semantic cluster ids differ")


# ---------------------------------------------------------------------------
# crawl increment
# ---------------------------------------------------------------------------


def index_doc_count(index_dir: str) -> int:
    meta = pq.read_table(os.path.join(index_dir, "meta")).to_pylist()
    expect(len(meta) == 1, "index meta is not one row")
    n = pq.read_table(os.path.join(index_dir, "signatures")).num_rows
    expect(meta[0]["n_docs"] == n, f"index meta says {meta[0]['n_docs']} docs, signatures hold {n}")
    return n
