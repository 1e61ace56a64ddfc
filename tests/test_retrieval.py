"""BM25 lexical retrieval + reciprocal-rank fusion (operators/retrieval.py).

Formula checks are hand-computed on a corpus small enough to verify with a
calculator; plan checks pin the scale-shape claims (query-side relations
broadcast, no row-at-a-time Python eval).
"""

import math

import pytest
from pyspark.sql import functions as F

from mover_spark import memo
from mover_spark.operators.retrieval import bm25_topk, hybrid_topk, rrf_fuse
from mover_spark.plans.audit import audit_plan

K1, B = 1.2, 0.75


def _bm25(tf: int, dl: int, avgdl: float, n: int, dfc: int) -> float:
    idf = math.log(1.0 + (n - dfc + 0.5) / (dfc + 0.5))
    tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
    return idf * tfn


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (0, "spark shuffle join"),
            (1, "spark spark window"),
            (2, "window sort merge"),
            (3, "hash hash hash join"),
            (4, ""),  # no tokens: out of N and never retrieved
        ],
        "doc_id long, text string",
    )


def test_bm25_hand_computed(spark, corpus):
    queries = spark.createDataFrame(
        [(7, "spark window")], "query_id int, query_text string"
    )
    got = {
        (r.query_id, r.doc_id): (r.rank, r.score)
        for r in bm25_topk(corpus, queries, k=10).collect()
    }
    # corpus stats over the 4 non-empty docs: lengths 3,3,3,4
    n, avgdl = 4, 13 / 4
    df_spark, df_window = 2, 2
    exp = {
        0: _bm25(1, 3, avgdl, n, df_spark),
        1: _bm25(2, 3, avgdl, n, df_spark) + _bm25(1, 3, avgdl, n, df_window),
        2: _bm25(1, 3, avgdl, n, df_window),
    }
    assert set(got) == {(7, 0), (7, 1), (7, 2)}  # docs 3,4 match no term
    for doc, score in exp.items():
        assert got[(7, doc)][1] == pytest.approx(score, abs=2e-6)
    # doc 1 matches both terms -> ranks first; 0 vs 2 identical formula
    # inputs -> identical score, doc_id ascending tie-break
    assert [got[(7, d)][0] for d in (1, 0, 2)] == [1, 2, 3]
    assert got[(7, 0)][1] == got[(7, 2)][1]


def test_bm25_repeated_query_terms_count_once(spark, corpus):
    q1 = spark.createDataFrame([(1, "hash")], "query_id int, query_text string")
    q2 = spark.createDataFrame([(1, "hash hash")], "query_id int, query_text string")
    r1 = {(r.doc_id): r.score for r in bm25_topk(corpus, q1).collect()}
    r2 = {(r.doc_id): r.score for r in bm25_topk(corpus, q2).collect()}
    assert r1 == r2 and set(r1) == {3}


def test_bm25_exclude_self_and_vocab_miss(spark, corpus):
    # query-by-document: doc 1's own text, sharing the id space
    qbd = corpus.where(F.col("doc_id") == 1).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    with_self = bm25_topk(corpus, qbd, k=10)
    without = bm25_topk(corpus, qbd, k=10, exclude_self=True)
    assert 1 in {r.doc_id for r in with_self.collect()}
    rows = without.collect()
    assert 1 not in {r.doc_id for r in rows}
    assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
        range(1, len(rows) + 1)
    )  # ranks stay dense after exclusion (filter before the window)
    # a query entirely outside the vocabulary yields no rows, not zeros
    miss = spark.createDataFrame(
        [(9, "zzz qqq")], "query_id int, query_text string"
    )
    assert bm25_topk(corpus, miss).count() == 0


def test_rrf_fusion_hand_computed(spark):
    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id int, doc_id long, rank int"
    )
    vec = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id int, doc_id long, rank int"
    )
    got = {r.doc_id: (r.rank, r.rrf_score) for r in rrf_fuse([lex, vec], k=10).collect()}
    exp = {
        11: 1 / 62 + 1 / 61,  # in both lists -> wins
        10: 1 / 61,
        12: 1 / 62,
    }
    assert [d for d, _ in sorted(got.items(), key=lambda kv: kv[1][0])] == [11, 10, 12]
    for d, s in exp.items():
        assert got[d][1] == pytest.approx(s, abs=2e-6)
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_hybrid_topk_fixture(spark, catalog):
    out = hybrid_topk(
        catalog.df("documents"),
        catalog.df("embeddings"),
        query_ids=[0, 1],
        k=5,
        n_candidates=10,
    )
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1}
    for qid in (0, 1):
        ranks = sorted(r.rank for r in rows if r.query_id == qid)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5
    assert all(r.doc_id != r.query_id for r in rows)  # both arms self-exclude


def test_bm25_index_matches_live(spark, catalog, tmp_path):
    """Persisted-index search is row-identical to the live computation,
    and an appended index is row-identical to a full rebuild."""
    from mover_spark.operators.retrieval import (
        append_to_text_index,
        bm25_from_index,
        write_text_index,
    )

    docs = catalog.df("documents")
    queries = spark.createDataFrame(
        [(1, "spark window agg"), (2, "table scan")],
        "query_id int, query_text string",
    )
    live = bm25_topk(docs, queries, k=10).collect()

    full = str(tmp_path / "full")
    write_text_index(docs, full)
    from_full = bm25_from_index(spark, full, queries, k=10).collect()
    assert sorted(map(tuple, from_full)) == sorted(map(tuple, live))

    app = str(tmp_path / "app")
    write_text_index(docs.where(F.col("doc_id") % 3 != 0), app)
    append_to_text_index(docs.where(F.col("doc_id") % 3 == 0), app)
    from_app = bm25_from_index(spark, app, queries, k=10).collect()
    assert sorted(map(tuple, from_app)) == sorted(map(tuple, live))


def test_bm25_index_partial_append_is_invisible(spark, catalog, tmp_path):
    """The crash contract: postings land before doclen, so an append
    that died in between leaves the increment's postings inert — the
    index answers exactly like the pre-append index (df, N, avgdl all
    derive from visible docs only)."""
    from mover_spark.operators.retrieval import (
        _tokens,
        bm25_from_index,
        write_text_index,
    )

    docs = catalog.df("documents")
    path = str(tmp_path / "ix")
    write_text_index(docs.where(F.col("doc_id") % 3 != 0), path)
    queries = spark.createDataFrame(
        [(1, "spark window agg")], "query_id int, query_text string"
    )
    before = bm25_from_index(spark, path, queries, k=10).collect()
    # simulate the crash: the increment's postings appended, doclen not
    inc = _tokens(docs.where(F.col("doc_id") % 3 == 0), "doc_id", "text", "doc_id")
    inc.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).write.mode(
        "append"
    ).parquet(f"{path}/postings")
    after = bm25_from_index(spark, path, queries, k=10).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))


def test_bm25_index_prunes_postings_scan(spark, catalog, tmp_path):
    """The scale contract of the index path: the postings scan carries
    the query-vocabulary source filter (pushed to parquet over the
    term-sorted layout), and empty query vocabularies short-circuit."""
    from mover_spark.operators.retrieval import bm25_from_index, write_text_index
    from mover_spark.plans.audit import audit_plan

    path = str(tmp_path / "ix")
    write_text_index(catalog.df("documents"), path)
    queries = spark.createDataFrame(
        [(1, "spark window")], "query_id int, query_text string"
    )
    facts = audit_plan(bm25_from_index(spark, path, queries, k=5))
    assert any("term" in p for p in facts["pushed_filters"])
    assert not facts["has_python_eval"]
    empty = spark.createDataFrame([(1, " ")], "query_id int, query_text string")
    empty_out = bm25_from_index(spark, path, empty)
    assert empty_out.count() == 0
    # the short-circuit branch mirrors the non-empty branch's schema
    # (query_id inherits the caller's int type in both), so a union or
    # schema-pinned consumer can't break only on the empty edge case
    nonempty_out = bm25_from_index(spark, path, queries, k=5)
    assert [
        (f.name, f.dataType.simpleString()) for f in empty_out.schema.fields
    ] == [(f.name, f.dataType.simpleString()) for f in nonempty_out.schema.fields]


def test_bm25_plan_shape(spark, catalog):
    """The scale contract: query-sized relations (terms, dfc, stats) join
    broadcast; no row-at-a-time Python eval anywhere; the corpus-keyed
    work is hash aggregation + one doc-keyed join."""
    queries = spark.createDataFrame(
        [(1, "spark window agg")], "query_id int, query_text string"
    )
    facts = audit_plan(bm25_topk(catalog.df("documents"), queries))
    assert facts["n_broadcast_joins"] >= 3  # qterms, dfc, stats
    assert not facts["has_python_eval"]


def test_memo_misses_after_same_name_rewrite(spark, tmp_path):
    """A corpus rewritten in place under the same file name and read fresh
    gets the answers of a cold run, from bm25_topk and minhash_lsh_pairs
    alike. Two fresh reads of one path share a plan semanticHash, so only
    the memo's file stamp (path, size, mtime) tells them apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mover_spark.operators.dedup import minhash_lsh_pairs

    memo.clear()
    corpus_dir = tmp_path / "corpus"
    corpus_dir.mkdir()
    docs = [(1, "spark join plan tuning guide"), (2, "other words entirely here now")]

    def write_and_read(rows):
        table = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        })
        pq.write_table(table, str(corpus_dir / "documents.parquet"))
        return spark.read.parquet(str(corpus_dir))

    queries = spark.createDataFrame([(1, "spark join")], "query_id int, query_text string")

    def answers(df):
        return (
            sorted(map(tuple, bm25_topk(df, queries).collect())),
            sorted(map(tuple, minhash_lsh_pairs(df, 0.8).collect())),
        )

    before = answers(write_and_read(docs))
    after = answers(write_and_read(docs + [(3, "spark join plan tuning guide")]))
    memo.clear()
    cold = answers(spark.read.parquet(str(corpus_dir)))
    assert cold[1] == [(1, 3, 1.0)] and cold[0] != before[0], "the rewrite must change both answers"
    assert after == cold
    memo.clear()


def test_tf_relation_memoized_and_output_neutral(spark, corpus):
    """Optimization r14 (VERDICT r13 next #6): bm25_topk's four tf
    consumers (postings, dl, df, stats) read ONE persisted memoized
    (doc_id, term, tf) relation — the before-plan tokenized the corpus
    four times because column pruning defeats ReusedExchange — and the
    memo is output-neutral: warm rows equal cold rows."""
    memo.clear()
    queries = spark.createDataFrame(
        [(1, "spark join")], "query_id int, query_text string"
    )
    cold = sorted(map(tuple, bm25_topk(corpus, queries).collect()))
    assert len(memo.entries("bm25_tf")) == 1
    entry = memo.entries("bm25_tf")[0]
    assert entry.storageLevel.useMemory or entry.storageLevel.useDisk
    warm = sorted(map(tuple, bm25_topk(corpus, queries).collect()))
    assert memo.entries("bm25_tf")[0] is entry  # hit, not a rebuild
    assert cold, "fixture must retrieve at least one document"
    assert warm == cold
    # every tf consumer reads the persisted relation in the warm plan
    plan = (
        bm25_topk(corpus, queries)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("InMemoryTableScan") >= 3, plan
    memo.clear()
    assert not memo.entries("bm25_tf")
