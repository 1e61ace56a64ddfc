"""Seeded input generators for the pipeline benchmark.

Every generator is a pure function of its seed arguments: the same seed
gives byte-identical inputs. Nothing here imports Spark; the workloads
hand the generated files or records to the program.

Three input families:

- a star schema shaped like the TPC-H-style fixture (region, nation,
  customer, supplier, part, orders, lineitem with duplicate primary keys
  kept), plus a self-referencing ``customer.c_referrer`` foreign key that
  forms referral chains, so the FK closure follows a self-reference;
- a document corpus with planted near-duplicate cliques, edit chains and
  quoted-inside-a-longer-document containment pairs;
- 64-d embedding vectors with planted near-duplicate groups.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# star schema
# ---------------------------------------------------------------------------

#: Referral chains: every customer but a chain head refers to the previous
#: customer of its chain, so a seed customer drags its ancestry in through
#: the self-referencing FK. Chains are two long: each self-referencing
#: round makes the closure's query plans grow about twofold, and chains of
#: four or more ran the driver out of heap (see README, known faults).
REFERRAL_CHAIN = 2


@dataclass(frozen=True)
class StarShape:
    customers: int
    suppliers: int
    parts: int
    orders_per_customer: int
    lines_per_order: int
    #: share of lineitem rows that repeat an earlier (l_orderkey,
    #: l_linenumber) pair, as the fixture does
    dup_line_share: float = 0.02


def write_star(out_dir: str, seed: int, shape: StarShape) -> dict[str, int]:
    """Write the star schema as ``<table>.parquet`` files under ``out_dir``.
    Returns the row count of each table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int64),
            "r_name": [f"REGION{i}" for i in range(5)],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int64),
            "n_name": [f"NATION{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int64) % 5,
        }
    )

    nc = shape.customers
    ckey = np.arange(1, nc + 1, dtype=np.int64)
    # chain position of each customer; heads (position 0) refer to nobody
    pos = (ckey - 1) % REFERRAL_CHAIN
    referrer = pa.array(np.where(pos == 0, 0, ckey - 1), mask=pos == 0)
    tables["customer"] = pa.table(
        {
            "c_custkey": ckey,
            "c_name": [f"Customer#{k:09d}" for k in ckey],
            "c_address": [f"addr-{v}" for v in rng.integers(0, 1 << 40, nc)],
            "c_nationkey": rng.integers(0, 25, nc, dtype=np.int64),
            "c_phone": [f"{v:015d}" for v in rng.integers(0, 10**15, nc)],
            "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ),
            "c_referrer": referrer,
        }
    )

    ns = shape.suppliers
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(1, ns + 1, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(1, ns + 1)],
            "s_nationkey": rng.integers(0, 25, ns, dtype=np.int64),
            "s_phone": [f"{v:015d}" for v in rng.integers(0, 10**15, ns)],
            "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
        }
    )

    npart = shape.parts
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(1, npart + 1, dtype=np.int64),
            "p_name": [f"part {k}" for k in range(1, npart + 1)],
            "p_retailprice": np.round(rng.uniform(900, 2100, npart), 2),
        }
    )

    no = nc * shape.orders_per_customer
    okey = np.arange(1, no + 1, dtype=np.int64)
    tables["orders"] = pa.table(
        {
            "o_orderkey": okey,
            "o_custkey": rng.integers(1, nc + 1, no, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.uniform(800, 500000, no), 2),
            "o_orderdate": (
                np.datetime64("1992-01-01")
                + rng.integers(0, 2400, no).astype("timedelta64[D]")
            ),
            "o_clerk": [f"Clerk#{v:09d}" for v in rng.integers(1, 1000, no)],
        }
    )

    nl = no * shape.lines_per_order
    l_order = np.repeat(okey, shape.lines_per_order)
    l_line = np.tile(np.arange(1, shape.lines_per_order + 1, dtype=np.int64), no)
    # duplicate PKs: a share of rows copy the line number of the row before
    # them within the same order, so (l_orderkey, l_linenumber) repeats
    dup = (rng.random(nl) < shape.dup_line_share) & (l_line > 1)
    l_line = np.where(dup, l_line - 1, l_line)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_linenumber": l_line,
            "l_partkey": rng.integers(1, npart + 1, nl, dtype=np.int64),
            "l_suppkey": rng.integers(1, ns + 1, nl, dtype=np.int64),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, nl), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        }
    )

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


#: Key graph of the generated star schema: the program's fixture sidecar
#: shape plus the referral self-FK on customer.
STAR_KEYS: dict = {
    "region": {"pk": ["r_regionkey"], "fks": []},
    "nation": {
        "pk": ["n_nationkey"],
        "fks": [{"cols": ["n_regionkey"], "ref": "region", "ref_cols": ["r_regionkey"]}],
    },
    "customer": {
        "pk": ["c_custkey"],
        "fks": [
            {"cols": ["c_nationkey"], "ref": "nation", "ref_cols": ["n_nationkey"]},
            {"cols": ["c_referrer"], "ref": "customer", "ref_cols": ["c_custkey"]},
        ],
    },
    "supplier": {
        "pk": ["s_suppkey"],
        "fks": [{"cols": ["s_nationkey"], "ref": "nation", "ref_cols": ["n_nationkey"]}],
    },
    "part": {"pk": ["p_partkey"], "fks": []},
    "orders": {
        "pk": ["o_orderkey"],
        "fks": [{"cols": ["o_custkey"], "ref": "customer", "ref_cols": ["c_custkey"]}],
    },
    "lineitem": {
        "pk": ["l_orderkey", "l_linenumber"],
        "pk_unique": False,
        "fks": [
            {"cols": ["l_orderkey"], "ref": "orders", "ref_cols": ["o_orderkey"]},
            {"cols": ["l_partkey"], "ref": "part", "ref_cols": ["p_partkey"]},
            {"cols": ["l_suppkey"], "ref": "supplier", "ref_cols": ["s_suppkey"]},
        ],
    },
}

#: Closure and sanitize config: orders' lineitem reverse FK is allowlisted
#: (the program names reverse FKs ``<child>_fk_<cols>``), and customer and
#: supplier carry template, null and fake-unique rules.
MOVER_CONFIG: dict = {
    "schema": [
        {"table_name": "orders", "reference_keys": ["lineitem_fk_l_orderkey"]},
        {
            "table_name": "customer",
            "columns": [
                {"name": "c_address", "replace": "{c_custkey} Main Street"},
                {"name": "c_phone", "sanitize": True},
                {"name": "c_name", "fake": "email", "unique": True},
            ],
        },
        {
            "table_name": "supplier",
            "columns": [
                {"name": "s_name", "replace": "Supplier {s_suppkey}"},
                {"name": "s_phone", "sanitize": True},
            ],
        },
    ]
}


def subset_query(seed: int, index: int, customers: int, size: int) -> tuple[str, list[int]]:
    """Seed query of pass ``index``: ``size`` distinct customers drawn from
    the seed. Different indexes give (almost surely) different subsets."""
    rng = np.random.default_rng([seed, 2, index])
    keys = sorted(int(k) for k in rng.choice(np.arange(1, customers + 1), size, replace=False))
    return (
        "SELECT * FROM customer WHERE c_custkey IN (" + ", ".join(map(str, keys)) + ")",
        keys,
    )


# ---------------------------------------------------------------------------
# document corpus
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CorpusShape:
    background: int  # unrelated docs
    cliques: int  # near-duplicate cliques of CLIQUE_SIZE docs
    chains: int  # edit chains of CHAIN_LEN docs
    quotes: int  # (short, long) containment pairs


CLIQUE_SIZE = 4
CHAIN_LEN = 10
VOCAB = 6000


@dataclass
class Corpus:
    """Generated docs plus what was planted in them. ``near_pairs`` clear
    Jaccard 0.95 and ``contain_pairs`` (inner, outer) have containment 1;
    both are the pairs the checks require the program to return."""

    ids: list[int]
    texts: list[str]
    near_pairs: list[tuple[int, int]] = field(default_factory=list)
    contain_pairs: list[tuple[int, int]] = field(default_factory=list)


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB:
        n = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def _substitute(words: list[str], pos: int, vocab: np.ndarray, rng) -> None:
    """Replace ``words[pos]`` with a vocabulary word not already in the doc,
    so exactly the two bigrams through ``pos`` change."""
    present = set(words)
    while True:
        w = str(vocab[int(rng.integers(0, len(vocab)))])
        if w not in present:
            words[pos] = w
            return


def make_corpus(seed: int, index: int, shape: CorpusShape, id_base: int = 0) -> Corpus:
    """One corpus. Doc ids start at ``id_base`` and are shuffled so planted
    structure is not id-ordered.

    - cliques: a base doc of 170-200 words and CLIQUE_SIZE - 1 copies, the
      first verbatim and the others with one substituted word each (at
      distinct, non-adjacent positions). Any two members share all but at
      most 4 of their >= 169 bigrams: Jaccard >= 165/173 > 0.95.
    - chains: CHAIN_LEN docs of 80-90 words, each the previous one with one
      more word substituted at a fresh position. Neighbours differ in 2 of
      >= 79 bigrams (Jaccard >= 0.95); docs five or more links apart
      differ in >= 10 bigrams (Jaccard < 0.8), so a chain component has a
      real diameter.
    - quotes: a 20-24 word doc copied verbatim into a doc at least four
      times its length: containment exactly 1, size ratio past the
      program's banded ratio classes.
    """
    rng = np.random.default_rng([seed, 3, index])
    vocab = _vocab(np.random.default_rng([seed, 4]))

    def doc(n: int) -> list[str]:
        return [str(w) for w in vocab[rng.integers(0, len(vocab), n)]]

    groups: list[list[str]] = []  # texts; planted pairs refer to list positions
    near: list[tuple[int, int]] = []
    contain: list[tuple[int, int]] = []

    def add(words: list[str]) -> int:
        groups.append(" ".join(words))
        return len(groups) - 1

    for _ in range(shape.background):
        add(doc(int(rng.integers(40, 120))))
    for _ in range(shape.cliques):
        base = doc(int(rng.integers(170, 201)))
        members = [add(base), add(list(base))]
        slots = rng.choice(np.arange(2, len(base) - 2, 2), CLIQUE_SIZE - 2, replace=False)
        for p in slots:
            w = list(base)
            _substitute(w, int(p), vocab, rng)
            members.append(add(w))
        near += [(a, b) for i, a in enumerate(members) for b in members[i + 1 :]]
    for _ in range(shape.chains):
        cur = doc(int(rng.integers(80, 91)))
        slots = rng.choice(np.arange(1, len(cur) - 1, 2), CHAIN_LEN - 1, replace=False)
        prev = add(cur)
        for p in slots:
            cur = list(cur)
            _substitute(cur, int(p), vocab, rng)
            nxt = add(cur)
            near.append((prev, nxt))
            prev = nxt
    for _ in range(shape.quotes):
        short = doc(int(rng.integers(20, 25)))
        pre, post = doc(int(rng.integers(30, 50))), doc(int(rng.integers(30, 50)))
        a = add(short)
        b = add(pre + short + post)
        contain.append((a, b))

    order = rng.permutation(len(groups))
    ids = [0] * len(groups)
    for new_pos, old in enumerate(order):
        ids[old] = id_base + new_pos
    texts = [""] * len(groups)
    for old, t in enumerate(groups):
        texts[ids[old] - id_base] = t

    def remap(pairs):
        return [tuple(sorted((ids[a], ids[b]))) for a, b in pairs]

    return Corpus(
        ids=list(range(id_base, id_base + len(groups))),
        texts=texts,
        near_pairs=remap(near),
        contain_pairs=[(ids[a], ids[b]) for a, b in contain],
    )


# ---------------------------------------------------------------------------
# embedding vectors
# ---------------------------------------------------------------------------

DIM = 64


@dataclass(frozen=True)
class VectorShape:
    background: int
    groups: int  # near-duplicate groups of 2-4 vectors, one exact copy each


def make_vectors(seed: int, index: int, shape: VectorShape) -> tuple[list[int], np.ndarray]:
    """Unit-scale Gaussian vectors. Group members are the group centre plus
    noise of 0.002 per coordinate (cosine to each other > 0.99), one of
    them an exact copy; unrelated vectors have cosine ~ N(0, 1/64)."""
    rng = np.random.default_rng([seed, 5, index])
    rows = [rng.normal(0, 1 / 8, DIM) for _ in range(shape.background)]
    for _ in range(shape.groups):
        c = rng.normal(0, 1 / 8, DIM)
        rows.append(c)
        rows.append(c.copy())
        for _ in range(int(rng.integers(0, 3))):
            rows.append(c + rng.normal(0, 0.002, DIM))
    vecs = np.stack(rows)[rng.permutation(len(rows))]
    return list(range(len(rows))), np.round(vecs, 4)


# ---------------------------------------------------------------------------
# crawl increments
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IncrementShape:
    novel: int  # unrelated new docs: all must survive
    exact: int  # verbatim copies of indexed docs: all must be dropped
    near: int  # indexed docs with one word substituted: all must be dropped


def make_increment(
    seed: int, day: int, shape: IncrementShape, indexed: list[str]
) -> tuple[list[int], list[str], list[int]]:
    """One day's crawl: (ids, texts, ids of the novel docs). Copies are
    drawn from ``indexed``, the texts the index holds before this day.
    Near copies start from docs of at least 100 words, so one substituted
    word leaves Jaccard >= 97/101 against the source."""
    rng = np.random.default_rng([seed, 6, day])
    vocab = _vocab(np.random.default_rng([seed, 4]))
    novel = [
        " ".join(str(w) for w in vocab[rng.integers(0, len(vocab), int(rng.integers(40, 120)))])
        for _ in range(shape.novel)
    ]
    exact = [indexed[int(i)] for i in rng.choice(len(indexed), shape.exact, replace=False)]
    long_docs = [t for t in indexed if t.count(" ") >= 99]
    near = []
    for i in rng.choice(len(long_docs), shape.near, replace=False):
        w = long_docs[int(i)].split(" ")
        _substitute(w, int(rng.integers(1, len(w) - 1)), vocab, rng)
        near.append(" ".join(w))
    texts = novel + exact + near
    order = rng.permutation(len(texts))
    base = 1_000_000 * day
    ids = [base + int(k) for k in range(len(texts))]
    shuffled = [texts[int(o)] for o in order]
    novel_ids = [base + k for k, o in enumerate(order) if o < shape.novel]
    return ids, shuffled, novel_ids
