"""Lexical (BM25) retrieval and hybrid rank fusion — the text-side
complement of `operators/similarity.py`'s vector search. Scale extensions
beyond the reference surface (mover owns no search operator at all; its
only text op is template substitution, etl/sanitizer.go:110-124).

Design for 100 TB:

- The corpus-sized work is exactly three hash aggregations — per-(doc,
  term) frequency, per-doc length, per-term document frequency — all
  map-side-combining, plus ONE doc-keyed join between the query-pruned
  postings and the doc-length table. Everything query-sized (the term
  lists, their document frequencies, the corpus stats row) is broadcast;
  no shuffle is proportional to |queries| x |corpus|.
- The postings table is pruned to the query vocabulary FIRST (broadcast
  semi-shape join on term), so the scoring join moves |matching postings|
  rows, not the corpus.
- Scoring is pure JVM column math (whole-stage codegen); there is no UDF
  anywhere in the module.
- Determinism for the oracle: per-term BM25 contributions and per-list
  RRF contributions are quantized to integer grains before the SUM, so
  accumulation order (which Spark does not define) cannot perturb the
  6-decimal rounded output. Same trick as text.unigram_xent and
  dedup.qcosine.

BM25 is the Robertson/Sparck-Jones formulation with the Lucene +1 idf
floor (public art: Robertson & Zaragoza 2009, "The Probabilistic
Relevance Framework"; Lucene's BM25Similarity):

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn(t,d) = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score    = sum_t idf(t) * tfn(t,d)

N counts documents with at least one token (documents whose text is
empty/null have no postings and no length; keeping them out of N makes
the Spark and SQL formulations agree without an outer join).

RRF is Cormack, Clarke & Buettcher SIGIR'09: score(d) = sum over input
rankings of 1 / (k0 + rank_i(d)), candidates being the union of the
per-list top-N members.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import memo

#: integer grain for order-invariant double sums (1e-6 of a BM25 point /
#: 1e-9 of an RRF point — both far below the 6-decimal reported rounding)
_BM25_GRAIN = 1_000_000
_RRF_GRAIN = 1_000_000_000


def _tf_relation(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, term, tf) — the corpus term-frequency aggregate, persisted
    and memoized per corpus: bm25_topk's four tf consumers and
    hybrid_topk's lexical arm share one entry."""
    return memo.cached(
        docs, "bm25_tf", id_col, text_col,
        build=lambda: (
            _tokens(docs, id_col, text_col, "doc_id")
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .persist()
        ),
    )


def _tokens(df: DataFrame, id_col: str, text_col: str, out_id: str) -> DataFrame:
    """(id, term) pairs — whitespace tokens, empties dropped. The same
    tokenizer the text-analysis family uses (split on single space), so
    BM25 vocabulary agrees with tfidf_top_terms / word_freq_topk."""
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).where(F.col("term") != "")


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    exclude_self: bool = False,
) -> DataFrame:
    """Per-query BM25 top-k over a document corpus.

    `queries` is a small relation (query_id, query_text) — a literal
    frame, or a slice of the corpus itself for query-by-document (set
    `exclude_self=True` to drop the trivial self match when query ids
    share the document id space).

    Returns (query_id, doc_id, rank, score): rank 1-based by score desc
    with doc_id-ascending tie-break, score rounded to 6 decimals.
    Documents matching zero query terms do not appear (their BM25 score
    is 0); a query whose terms miss the corpus vocabulary entirely yields
    no rows.

    Lifecycle note: the corpus (doc_id, term, tf) aggregate is persisted
    into the session memo (mover_spark.memo) as a side effect, one entry
    per corpus; a corpus rewritten in place and read again misses it.
    """
    # memoized persisted tf (optimization r14, guide §2.4/§5): four
    # consumers below (postings, dl, dfc, stats) prune different columns,
    # so their un-persisted subtrees never ReusedExchange — the r14
    # before-plan ran the corpus tokenize+explode+aggregate four times.
    tf = _tf_relation(docs, id_col, text_col)
    # dl from tf, not from a second pass over the raw token stream: the
    # per-doc length is exactly sum(tf), and deriving it here re-uses
    # tf's exchange (one corpus tokenize+explode total — the separate
    # tok.groupBy("doc_id") form re-ran the scan+explode; optimization
    # r13, guide §1.2). The regroup shuffles the aggregated (doc, term)
    # set, distinct-terms-sized, not the raw token stream.
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # one corpus-stats row: N and avgdl (integer sum / integer count so
    # both engines derive the identical double)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )

    qterms = (
        _tokens(queries, query_id_col, query_text_col, "query_id")
        .distinct()  # repeated words in one query count once (set-of-terms)
    )
    # document frequency for QUERY terms only: prune the term-level agg
    # with a broadcast join before it ever reaches the scoring join
    dfc = tf.join(F.broadcast(qterms.select("term").distinct()), "term").groupBy(
        "term"
    ).agg(F.count(F.lit(1)).alias("dfc"))

    postings = (
        tf.join(F.broadcast(qterms), "term")  # prune to query vocabulary
        .join(dl, "doc_id")  # the one corpus-keyed join
        .join(F.broadcast(dfc), "term")
        .join(F.broadcast(stats))
    )
    if exclude_self:
        postings = postings.where(F.col("query_id") != F.col("doc_id"))

    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("dfc") + 0.5) / (F.col("dfc") + 0.5)
    )
    tfn = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    contrib = F.round(idf * tfn * _BM25_GRAIN).cast("long")

    scored = (
        postings.select("query_id", "doc_id", contrib.alias("qs"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("qs") / float(_BM25_GRAIN), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def write_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_term_buckets: int = 64,
) -> None:
    """Persist the BM25 inverted index — the lexical twin of
    similarity.write_ann_index / dedup.write_signature_index: the
    corpus-sized tokenize+aggregate pass runs ONCE in the writer job,
    query jobs read back only the postings their terms touch.

    Layout: `postings` (term, doc_id, tf) range-partitioned and sorted
    by term, so a query's `term IN (...)` filter prunes whole files via
    parquet min/max before any row is read; `doclen` (doc_id, dl).
    NOTHING derived is stored — document frequency comes from the pruned
    postings at query time and the corpus stats (N, avgdl) from one
    narrow aggregation over `doclen` — which is what makes
    `append_to_text_index` exact: no stored statistic can go stale, and
    a doc is visible if and only if its doclen row landed (see the
    append-ordering contract there)."""
    tok = _tokens(docs, id_col, text_col, "doc_id")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    (
        tf.repartitionByRange(n_term_buckets, "term")
        .sortWithinPartitions("term")
        .write.mode("error")
        .parquet(f"{path}/postings")
    )
    tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")).write.mode(
        "error"
    ).parquet(f"{path}/doclen")


def append_to_text_index(
    increment: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_term_buckets: int = 8,
) -> None:
    """Fold a document increment into a persisted text index with
    increment-sized work: append its postings, then its doc lengths.
    Query results over the appended index are row-identical to a full
    rebuild because every stored relation is a disjoint row union and
    every derived statistic (df, N, avgdl) is computed at query time
    from VISIBLE docs only — a doc is visible iff its doclen row landed,
    and the reader inner-joins postings to doclen before counting df.

    Append-ordering contract: postings land BEFORE doclen (each dataset
    append is an atomic job commit). A crash between the two leaves the
    increment's postings inert — no doclen row means they join to
    nothing, count toward nothing — so every crash prefix reads exactly
    like the pre-append index; re-running the append after cleaning the
    orphaned postings (or rebuilding) restores the post-append state."""
    tok = _tokens(increment, id_col, text_col, "doc_id")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    (
        tf.repartitionByRange(n_term_buckets, "term")
        .sortWithinPartitions("term")
        .write.mode("append")
        .parquet(f"{path}/postings")
    )
    tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")).write.mode(
        "append"
    ).parquet(f"{path}/doclen")


def bm25_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    exclude_self: bool = False,
) -> DataFrame:
    """BM25 top-k answered from a persisted text index: the corpus is
    never re-tokenized — the postings scan carries a `term IN (query
    vocabulary)` source filter (pruning sorted parquet by min/max; the
    vocabulary is collected driver-side, query-sized by contract), the
    doc-length join is the only corpus-keyed work, document frequency is
    counted over the pruned VISIBLE postings (inner-joined to doclen —
    see append_to_text_index's crash contract), and N/avgdl come from
    one narrow aggregation over doclen. Output is row-identical to
    bm25_topk over the same corpus (equality-tested)."""
    qterms = (
        _tokens(queries, query_id_col, query_text_col, "query_id").distinct()
    )
    terms = [r.term for r in qterms.select("term").distinct().collect()]
    if not terms:
        # mirror the non-empty path's schema: query_id inherits the
        # caller's type there (via _tokens), so derive it here too —
        # otherwise a union/schema-pinned consumer breaks only on the
        # empty-vocabulary edge case
        qid_t = queries.schema[query_id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"query_id {qid_t}, doc_id long, rank int, score double"
        )
    postings = spark.read.parquet(f"{path}/postings").where(
        F.col("term").isin(terms)
    )
    dl = spark.read.parquet(f"{path}/doclen")
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    base = postings.join(dl, "doc_id")
    dfc = base.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    scored_rows = (
        base.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfc), "term")
        .join(F.broadcast(stats))
    )
    if exclude_self:
        scored_rows = scored_rows.where(F.col("query_id") != F.col("doc_id"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("dfc") + 0.5) / (F.col("dfc") + 0.5)
    )
    tfn = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    contrib = F.round(idf * tfn * _BM25_GRAIN).cast("long")
    scored = (
        scored_rows.select("query_id", "doc_id", contrib.alias("qs"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("qs") / float(_BM25_GRAIN), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    k0: int = 60,
    cand_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of N rankings, each (query_id, <cand_col>,
    rank). Returns (query_id, <cand_col>, rank, rrf_score) — the fused
    top-k per query, rrf_score rounded to 6 decimals, candidate-id
    ascending tie-break.

    Implementation is a union + one grouped sum of integer-quantized
    contributions — no join tree that widens with the number of input
    rankings, and order-invariant accumulation. Each input list
    contributes at most once per (query, candidate): duplicate ranks for
    the same candidate within one list are an upstream bug, kept visible
    (they would sum), not silently deduped.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contrib = F.round(_RRF_GRAIN / (F.lit(k0) + F.col("rank"))).cast("long")
    parts = [
        r.select("query_id", F.col(cand_col), contrib.alias("qs")) for r in rankings
    ]
    all_parts = parts[0]
    for p in parts[1:]:
        all_parts = all_parts.unionByName(p)
    fused = all_parts.groupBy("query_id", cand_col).agg(
        F.round(F.sum("qs") / float(_RRF_GRAIN), 6).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc(cand_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", cand_col, "rank", "rrf_score")
    )


def hybrid_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_candidates: int = 20,
    k0: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+vector retrieval, query-by-document: for each query
    id (present in BOTH id spaces), fuse the BM25 ranking of the query
    document's text against the corpus with the exact-cosine ranking of
    its embedding, via RRF. The two per-query top-`n_candidates` lists
    are each produced by their native operator (bm25_topk /
    similarity.brute_force_topk — at scale the vector arm swaps to the
    IVF/PQ index path, the fusion is arm-agnostic).

    Returns (query_id, doc_id, rank, rrf_score).
    """
    from .similarity import brute_force_topk

    ids = list(query_ids)
    lex_queries = docs.where(F.col(id_col).isin(ids)).select(
        F.col(id_col).alias("query_id"), F.col(text_col).alias("query_text")
    )
    lex = bm25_topk(
        docs,
        lex_queries,
        k=n_candidates,
        id_col=id_col,
        text_col=text_col,
        exclude_self=True,
    )
    vec = brute_force_topk(
        embeddings,
        embeddings.where(F.col(vec_id_col).isin(ids)),
        k=n_candidates,
        vec_col=vec_col,
        id_col=vec_id_col,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, vec], k=k, k0=k0)
