"""The three workloads: what each pass runs, and the checks on its output.

A workload generates its inputs from the seed, opens them in the Spark
session, and yields its operations in a fixed order: the first pass, then
rounds of one cold and one repeat pass, and, for corpus_dedup, the
revisit of a result whose memo entry was evicted. Each operation has a
body, which is timed, and a check, which is not.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
import spans


@dataclass
class Op:
    kind: str  # first, cold, repeat or revisit
    body: Callable[[dict], object]  # timed; fills per-layer extras when traced
    check: Callable[[object], None]
    before: Callable[[], None] = lambda: None  # untimed set-up of the pass


def _write_docs(path: str, ids: list[int], texts: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
        os.path.join(path, "documents.parquet"),
    )


DOC_KEYS = {
    "documents": {"pk": ["doc_id"], "fks": []},
    "embeddings": {"pk": ["vec_id"], "fks": []},
}


class Workload:
    """Shared plumbing. ``rounds`` is the number of (cold, repeat) rounds."""

    def __init__(self, seed: int, rounds: int, run_dir: str, tracer: spans.Tracer):
        self.seed = seed
        self.rounds = rounds
        self.run_dir = run_dir
        self.tracer = tracer
        self.spark = None

    def traced_extra(self, extra: dict, name: str, measure: Callable[[], float]) -> None:
        """Record a per-layer size measurement, in traced runs only."""
        if self.tracer.enabled:
            extra[name] = measure()

    def storage_mb(self) -> float:
        return spans.storage_mb(self.spark.sparkContext)


# ---------------------------------------------------------------------------
# subset_extract
# ---------------------------------------------------------------------------


class SubsetExtract(Workload):
    """mover itself: extract a customer subset to partitioned envelopes,
    then load them into a parquet target. Every pass starts from an empty
    Spark cache, because an extract leaves its closure's frames cached and
    a later extract of the same subset would read them."""

    SHAPE = gen.StarShape(
        customers=1500, suppliers=100, parts=200, orders_per_customer=10, lines_per_order=4
    )
    SUBSET = 40  # seed customers per pass
    ALLOW = {"lineitem_fk_l_orderkey"}

    def generate(self, inputs: str) -> None:
        gen.write_star(inputs, self.seed, self.SHAPE)

    def open(self, spark, inputs: str) -> None:
        from mover_spark import catalog, config, engine

        self.spark = spark
        self.inputs = inputs
        cat = catalog.Catalog(spark, inputs, sidecar=gen.STAR_KEYS)
        self.engine = engine.Engine(spark, cat, config.MoverConfig(**gen.MOVER_CONFIG))

    def prepare(self) -> None:
        closure = checks.StarClosure(self.inputs, gen.STAR_KEYS, self.ALLOW)
        self.originals = {"c_name": set(closure.tables["customer"]["c_name"])}
        self.queries, self.expected = [], []
        for i in range(self.rounds + 1):
            q, keys = gen.subset_query(self.seed, i, self.SHAPE.customers, self.SUBSET)
            self.queries.append(q)
            self.expected.append(closure.key_sets(keys))
        self.loaded: dict[int, dict] = {}

    def _pass(self, i: int, run: int) -> Callable[[dict], object]:
        env = os.path.join(self.run_dir, f"envelopes{i}.{run}")
        target = os.path.join(self.run_dir, f"target{i}")

        def body(extra: dict):
            with self.tracer.span("engine.extract"):
                self.engine.extract(env, self.queries[i])
            self.traced_extra(extra, "engine.extract.left_cached_mb", self.storage_mb)
            self.engine.load(env, target)
            self.traced_extra(extra, "jsonio.envelope_mb", lambda: spans.dir_mb(env))
            return env, target

        return body

    def _check(self, i: int):
        def check(out) -> None:
            env_dir, target = out
            env = checks.check_extract(env_dir, self.expected[i], gen.STAR_KEYS, self.originals)
            self.loaded[i] = checks.check_load(target, env, gen.STAR_KEYS, self.loaded.get(i))

        return check

    def ops(self):
        clear = self.spark.catalog.clearCache
        yield Op("first", self._pass(0, 0), self._check(0), clear)
        for i in range(1, self.rounds + 1):
            yield Op("cold", self._pass(i, 0), self._check(i), clear)
            yield Op("repeat", self._pass(i, 1), self._check(i), clear)


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    """One pass runs three corpus operators over one corpus and collects
    their results. Corpus 0 is the first pass; cold pass i reads corpus i,
    generated from the same seed under another index; its repeat re-runs
    corpus i. The run ends by re-reading the first pass's containment
    result, whose memo entry the cold passes have evicted."""

    SHAPE = gen.CorpusShape(background=250, cliques=20, chains=8, quotes=20)
    VECTORS = gen.VectorShape(background=700, groups=70)
    JACCARD = 0.8
    CONTAIN = 0.95
    COSINE = 0.9

    def generate(self, inputs: str) -> None:
        self.corpora, self.vectors = [], []
        for c in range(self.rounds + 1):
            corpus = gen.make_corpus(self.seed, c, self.SHAPE)
            ids, vecs = gen.make_vectors(self.seed, c, self.VECTORS)
            d = os.path.join(inputs, f"corpus{c}")
            _write_docs(d, corpus.ids, corpus.texts)
            pq.write_table(
                pa.table(
                    {
                        "vec_id": pa.array(ids, pa.int64()),
                        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float64())),
                    }
                ),
                os.path.join(d, "embeddings.parquet"),
            )
            self.corpora.append(corpus)
            self.vectors.append((ids, vecs))

    def open(self, spark, inputs: str) -> None:
        from mover_spark import catalog

        self.spark = spark
        self.cats = [
            catalog.Catalog(spark, os.path.join(inputs, f"corpus{c}"), sidecar=DOC_KEYS,
                            register_views=False)
            for c in range(self.rounds + 1)
        ]

    def prepare(self) -> None:
        self.shingles = [
            {i: checks.shingles(t) for i, t in zip(c.ids, c.texts)} for c in self.corpora
        ]
        self.results: dict[int, tuple] = {}

    def _pass(self, c: int) -> Callable[[dict], object]:
        from mover_spark.operators import dedup, similarity

        def body(extra: dict):
            docs, vecs = self.cats[c].df("documents"), self.cats[c].df("embeddings")
            span = self.tracer.span
            with span("dedup.minhash_lsh_pairs"):
                pairs = dedup.minhash_lsh_pairs(docs, threshold=self.JACCARD).collect()
            with span("dedup.containment_lsh"):
                contain_df = dedup.containment_lsh(docs, threshold=self.CONTAIN)
                contain = contain_df.collect()
            with span("similarity.semantic_dedup"):
                sem = similarity.semantic_dedup(vecs, threshold=self.COSINE).collect()
            if c == 0:
                self.first_contain = contain_df
            self.traced_extra(extra, "memo.resident_mb", self.storage_mb)
            return pairs, contain, sem

        return body

    def _check(self, c: int):
        def check(rows) -> None:
            out = tuple(sorted(tuple(r) for r in rs) for rs in rows)
            pairs, contain, sem = out
            corpus, sh = self.corpora[c], self.shingles[c]
            checks.check_pairs(pairs, sh, self.JACCARD, corpus.near_pairs)
            checks.check_containment(contain, sh, self.CONTAIN, corpus.contain_pairs)
            checks.check_semantic(sem, *self.vectors[c], self.COSINE)
            if c in self.results:
                checks.expect(out == self.results[c], "repeat pass rows differ from the cold pass")
            self.results[c] = out

        return check

    def _revisit(self, extra: dict):
        return self.first_contain.collect()

    def _check_revisit(self, rows) -> None:
        got = sorted(tuple(r) for r in rows)
        checks.expect(got == self.results[0][1], "revisited containment rows changed")

    def ops(self):
        yield Op("first", self._pass(0), self._check(0))
        for c in range(1, self.rounds + 1):
            yield Op("cold", self._pass(c), self._check(c))
            yield Op("repeat", self._pass(c), self._check(c))
        yield Op("revisit", self._revisit, self._check_revisit)


# ---------------------------------------------------------------------------
# crawl_increment
# ---------------------------------------------------------------------------


class CrawlIncrement(Workload):
    """The first pass writes a signature index over a base corpus. Cold pass
    d dedups day d's increment against the index and appends the
    survivors; its repeat re-runs day d, which must keep nothing."""

    BASE = gen.CorpusShape(background=600, cliques=40, chains=15, quotes=40)
    DAY = gen.IncrementShape(novel=200, exact=25, near=25)
    JACCARD = 0.8

    def generate(self, inputs: str) -> None:
        base = gen.make_corpus(self.seed, 0, self.BASE)
        _write_docs(os.path.join(inputs, "base"), base.ids, base.texts)
        indexed = list(base.texts)
        self.novel = [None]
        for day in range(1, self.rounds + 1):
            ids, texts, novel = gen.make_increment(self.seed, day, self.DAY, indexed)
            _write_docs(os.path.join(inputs, f"day{day}"), ids, texts)
            by_id = dict(zip(ids, texts))
            indexed += [by_id[i] for i in novel]
            self.novel.append(set(novel))
        self.base_docs = len(base.ids)

    def open(self, spark, inputs: str) -> None:
        from mover_spark import catalog

        self.spark = spark
        self.cats = [
            catalog.Catalog(spark, os.path.join(inputs, name), sidecar=DOC_KEYS,
                            register_views=False)
            for name in ["base"] + [f"day{d}" for d in range(1, self.rounds + 1)]
        ]
        self.index = os.path.join(self.run_dir, "index")

    def prepare(self) -> None:
        self.indexed_docs = self.base_docs

    def _first(self, extra: dict):
        from mover_spark.operators import dedup

        dedup.write_signature_index(self.cats[0].df("documents"), self.index)
        self.traced_extra(extra, "dedup.index_mb", lambda: spans.dir_mb(self.index))

    def _check_first(self, _) -> None:
        n = checks.index_doc_count(self.index)
        checks.expect(n == self.base_docs, f"index holds {n} docs, base has {self.base_docs}")

    def _day(self, day: int) -> Callable[[dict], object]:
        from mover_spark.operators import dedup

        def body(extra: dict):
            new = self.cats[day].df("documents")
            with self.tracer.span("dedup.dedup_against_index"):
                # materialized first: the survivors are computed from the
                # index that the append below writes to
                survivors = dedup.dedup_against_index(
                    new, self.index, threshold=self.JACCARD
                ).localCheckpoint()
                kept = [r.doc_id for r in survivors.select("doc_id").collect()]
            dedup.append_to_signature_index(survivors, self.index)
            self.traced_extra(extra, "dedup.index_mb", lambda: spans.dir_mb(self.index))
            self.traced_extra(extra, "memo.resident_mb", self.storage_mb)
            return kept

        return body

    def _check_day(self, day: int, repeat: bool):
        def check(kept) -> None:
            want = set() if repeat else self.novel[day]
            checks.expect(len(kept) == len(set(kept)), "a survivor is listed twice")
            checks.expect(
                set(kept) == want,
                f"day {day}: kept {len(kept)} docs, {len(set(kept) ^ want)} differ from the novel set",
            )
            self.indexed_docs += len(kept)
            n = checks.index_doc_count(self.index)
            checks.expect(n == self.indexed_docs, f"index holds {n} docs, expected {self.indexed_docs}")

        return check

    def ops(self):
        yield Op("first", self._first, self._check_first)
        for day in range(1, self.rounds + 1):
            yield Op("cold", self._day(day), self._check_day(day, False))
            yield Op("repeat", self._day(day), self._check_day(day, True))


#: workload name -> (class, seconds one cold + repeat round takes on a
#: 4-core host, rounded)
WORKLOADS = {
    "subset_extract": (SubsetExtract, 15.0),
    "corpus_dedup": (CorpusDedup, 15.0),
    "crawl_increment": (CrawlIncrement, 6.0),
}


def rounds_for(name: str, seconds: int) -> int:
    """Rounds a run of ``seconds`` makes: a function of the argument only,
    so every run of one length attempts the same operations."""
    return max(1, int(seconds // WORKLOADS[name][1]))

