"""Streaming vector search: an embedding stream answered per micro-batch
against the PERSISTED ANN index (similarity.write_ann_index) — the
continuous-retrieval twin of pq_topk_from_index, and the similarity-side
sibling of streaming/neardup.py's text probe. (The reference, ulule/mover,
is strictly batch — this is part of the streaming extension surface.)

Shape: ``foreachBatch``. Per-query top-k needs a per-query ranking window,
which append-mode streaming can't express statelessly — but each query's
answer depends ONLY on (its own vector, the static index), so running the
full batch search inside foreachBatch is micro-batch invariant by
construction: any partitioning of the stream yields the same union of
results. This is the production retrieval pattern — the stream never
touches the corpus encode; the index is refreshed by a scheduled writer
job (write_ann_index) while the probe job only reads parquet.

Scale notes:
- Queries per micro-batch are collected to build ADC lookup tables —
  bounded by the micro-batch size (maxFilesPerTrigger / Kafka batch
  sizing caps it in a real deployment), never by corpus size.
- The scan side is the persisted CODE table (8 bytes/vector), cell-
  partition-pruned when n_probe is set; the exact refine touches stored
  vectors only for the refine×k survivors.
- The sink is idempotent under batch re-delivery: each micro-batch
  overwrites its own ``batch=<batch_id>`` partition directory, so a batch
  retried after a successful write that missed its checkpoint commit
  replaces its previous output instead of appending duplicates —
  effectively-once output, not just at-least-once (the foreachBatch
  batch_id is stable across restarts from the same checkpoint, which is
  exactly what makes this keying sound).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

#: stream/corpus split of the embeddings fixture: every 20th vec "arrives"
STREAM_MOD = 20


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings fixture as a file stream (glob tolerates single-file and
    directory parquet layouts, same as neardup's document stream).

    maxFilesPerTrigger=1 bounds every micro-batch to one source file —
    load-bearing at scale, not a tuning nicety: the per-batch retrieval
    job holds a (candidate_codes x batch_queries) scoring surface, so an
    unbounded availableNow batch carrying a corpus-proportional query
    set grows that surface quadratically (the kernel OOM-killer took the
    whole JVM at 2M vectors / 100k streamed queries in one batch).
    Bounded batches also make per-batch probed-cell pruning effective —
    the cell union of ~3k queries is small; the union of 100k is every
    cell. All-cells (parity) answers are batch-invariant; pruned answers
    can only WIDEN a query's candidate set with batch-mates' cells (the
    single-file sf0.01 fixture drains in one batch, so the oracle
    comparison is exact — see the oracle note in __spark_entry__)."""
    return (
        spark.readStream.schema(_EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}/embeddings.parque*")
    )


def ann_probe_stream(
    stream_emb: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    refine: int = 4,
    n_probe: int | None = None,
    per_query_cells: bool = False,
    recall_sample: int = 0,
    recall_floor: float = 0.8,
):
    """Drain the embedding stream with availableNow, answering each
    micro-batch's vectors from the persisted ANN index and writing
    (query_id, neighbor_id, rank, cosine) under
    ``out_dir/batch=<batch_id>`` (overwrite — idempotent on batch
    re-delivery, see module docstring). Returns the finished query.

    The index is loaded ONCE and its codes relation pinned for the whole
    drain (pq_topk_from_loaded): per-batch re-reads of the
    cell-partitioned parquet — directory listings + footer reads across
    every cell directory, once per micro-batch — measured as the
    dominant cost of BOTH probe arms on a production-cell-count index
    (435 cells, 32 batches: ~14 s/batch of pure re-read). At 100-TB
    scale the pinned relation is the codes columns only (~tens of bytes
    per vector), spilling to local disk under MEMORY_AND_DISK if the
    executors can't hold it.

    RECALL MONITOR (``recall_sample`` > 0, pruned arms only): the pruned
    probe's win region costs recall on adversarial geometries (round-10
    bench: 0.50-0.75 at small probe fractions), and production needs
    that measured per drain, not assumed. For each micro-batch, the
    ``recall_sample`` lowest-id queries (deterministic, no RNG) are ALSO
    answered exactly against the pinned index's own stored quantized
    vectors (the same reference ranking ann_drift_probe uses), and one
    observation row (batch_id, n_queries, k, recall, flagged) lands under
    ``out_dir/_recall/batch=<batch_id>`` — underscore-prefixed, so result
    readers never see it; read it back with read_probe_recall. Cost is
    one codes scan for recall_sample queries per batch — the price of a
    small exact batch, bounded by the sample, not the stream. ``flagged``
    mirrors the drift history's contract: recall below ``recall_floor``
    marks the batch for operator attention (widen n_probe / rebuild
    cells), it does not fail the stream."""
    from mover_spark.operators.similarity import (
        _brute_force_topk_qc,
        loaded_ann_index,
        pq_topk_from_loaded,
    )

    # registry-memoized load (optimization r13): repeated drains against
    # the same persisted index skip the per-call meta/centroids/codebooks
    # collect jobs and the codes directory re-listing (mtime-invalidated
    # on append/compact/rebuild). The persist is LOCAL to this drain —
    # the registry holds the lazy relation only — and released in the
    # finally below, exactly the pre-r13 lifecycle.
    loaded = loaded_ann_index(stream_emb.sparkSession, index_path)
    codes = loaded[0].persist()
    spark = stream_emb.sparkSession

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        out = pq_topk_from_loaded(
            loaded,
            batch_df,
            k=k,
            refine=refine,
            n_probe=n_probe,
            per_query_cells=per_query_cells,
        )
        if n_probe is not None and recall_sample > 0:
            out = out.persist()  # consumed by the sink AND the monitor
        out.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        if n_probe is None or recall_sample <= 0:
            return
        try:
            sample = batch_df.orderBy("vec_id").limit(recall_sample)
            exact = _brute_force_topk_qc(
                codes.select("neighbor_id", F.col("qv").alias("qc")),
                sample,
                k=k,
            )
            # one action: the exact top-k left-joined with the sampled
            # queries' probed pairs gives the exact total, the hits and the
            # query count together. Queries are counted directly, not as
            # total/k: a sampled query with fewer than k exact neighbors
            # (index < k+1 rows, zero-norm or self-excluded vectors) would
            # make the ratio undercount (ADVICE r11)
            probed = (
                out.join(
                    sample.select(F.col("vec_id").alias("query_id")),
                    "query_id",
                    "left_semi",
                )
                .select("query_id", "neighbor_id", F.lit(True).alias("hit"))
                .distinct()
            )
            total, hits, n_queries = (
                exact.select("query_id", "neighbor_id")
                .join(probed, ["query_id", "neighbor_id"], "left")
                .agg(
                    F.count(F.lit(1)),
                    F.count("hit"),
                    F.countDistinct("query_id"),
                )
                .first()
            )
            recall = (hits / total) if total else 1.0
            spark.createDataFrame(
                [
                    (
                        int(n_queries),
                        int(k),
                        float(recall),
                        bool(recall < recall_floor),
                    )
                ],
                "n_queries int, k int, recall double, flagged boolean",
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{out_dir}/_recall/batch={batch_id}"
            )
        finally:
            out.unpersist()

    q = (
        stream_emb.writeStream.foreachBatch(probe_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        codes.unpersist()
    return q


def ann_probe_parity(
    spark: SparkSession, sf_dir: str, n_probe: int | None = None
) -> DataFrame:
    """Driver-contract entry: corpus = embeddings with vec_id % 20 != 0
    (indexed once per sf dir, persisted cross-run), stream = the rest;
    drain, then return the appended results.

    n_probe=None scans all cells, so the output is bit-identical to the
    batch pq_topk_from_index over the same split — hash-checked against
    the parameterized PQ/ADC SQL oracle. That parity harness is
    O(|stream| x |codes|) BY CONSTRUCTION (each streamed query ADC-scans
    the whole index) — quadratic when the query stream grows with the
    corpus, so it is a correctness surface, not the scale path. n_probe=k
    is the production shape: each micro-batch's scan is pruned to the
    union of the queries' k nearest cell directories via partition
    filters (hash-checked against the probed-cells oracle), cutting
    per-query work by cells/k and the decade exponent with it."""
    import tempfile

    from mover_spark.catalog import Catalog
    from mover_spark.operators.similarity import write_ann_index

    emb = Catalog(spark, sf_dir).df("embeddings")
    index_path = os.path.join(
        "/tmp/mover_spark_annindex",
        os.path.basename(os.path.normpath(sf_dir)),
        "stream_corpus",
    )
    if not os.path.exists(os.path.join(index_path, "meta")):
        if not emb.take(1):  # empty tenant: nothing to index or probe with
            from mover_spark.operators.similarity import _empty_topk

            return _empty_topk(emb, "vec_id")
        write_ann_index(emb.where(F.col("vec_id") % STREAM_MOD != 0), index_path)
    stream = read_embeddings_stream(spark, sf_dir).where(
        F.col("vec_id") % STREAM_MOD == 0
    )
    work = tempfile.mkdtemp(prefix="annprobe_")
    # register with the shared drain-dir lifecycle (removed at interpreter
    # exit) — bench repetitions must not leak corpus-scale result parquet
    # + checkpoint state per call
    from mover_spark.streaming.events import _DRAIN_DIRS

    _DRAIN_DIRS.append(work)
    out_dir = os.path.join(work, "out")
    ann_probe_stream(
        stream, index_path, out_dir, os.path.join(work, "ckpt"),
        n_probe=n_probe,
    )
    if not os.path.isdir(out_dir):
        # non-empty tenant whose stream split is empty: no batch ever
        # wrote, so there is no directory to read (same guard run_to_files
        # applies)
        from mover_spark.operators.similarity import _empty_topk

        return _empty_topk(emb, "vec_id")
    if n_probe is not None and not os.environ.get(
        "SPARK_GRAFT_PROBE_MULTIBATCH_OK"
    ):
        # Oracle-exactness guard: pruned answers are batch-dependent (a
        # query's candidate set widens with its batch-mates' cells), so
        # the hash comparison against the probed-cells SQL oracle is only
        # exact when the whole stream drained as ONE batch — true for the
        # single-file correctness fixtures by layout. If the fixture ever
        # becomes multi-file this fails as a clear assertion instead of a
        # confusing oracle diff. Bench-only multi-batch runs opt out via
        # SPARK_GRAFT_PROBE_MULTIBATCH_OK=1 (decade_bench sets it).
        batches = [d for d in os.listdir(out_dir) if d.startswith("batch=")]
        if len(batches) != 1:
            raise AssertionError(
                f"pruned ANN probe drained in {len(batches)} micro-batches; "
                "the probed-cells oracle is only exact for a single-batch "
                "drain (single-file fixture). Set "
                "SPARK_GRAFT_PROBE_MULTIBATCH_OK=1 for bench-only runs."
            )
    # `batch` is the sink's idempotency partition key, not part of the
    # result contract — drop it after partition discovery
    return (
        spark.read.parquet(out_dir).drop("batch").orderBy("query_id", "rank")
    )


def read_probe_recall(spark: SparkSession, out_dir: str) -> DataFrame:
    """The per-batch recall history written by ann_probe_stream's monitor
    (batch, n_queries, k, recall, flagged), oldest batch first. Lives
    under ``out_dir/_recall`` — an underscore path, invisible to readers
    of the result parquet."""
    return (
        spark.read.option("basePath", f"{out_dir}/_recall")
        .parquet(f"{out_dir}/_recall")
        .orderBy("batch")
    )
