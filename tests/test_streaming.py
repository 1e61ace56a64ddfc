"""Streaming == batch equivalence under availableNow, + stateful op."""

import pyspark.sql.functions as F
import pytest

from mover_spark.streaming.events import (
    read_events_stream,
    run_to_memory,
    running_totals_stream,
    session_stream,
    tumbling_stream,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def events_stream(spark):
    return read_events_stream(spark, SF_DIR)


def test_tumbling_stream_matches_batch(spark, catalog, events_stream):
    run_to_memory(tumbling_stream(events_stream), "t_tumble", "complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, round(r.sum_value, 3))
        for r in spark.table("t_tumble").collect()
    }
    batch = (
        catalog.df("events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    want = {(r.w.start, r.event_type): (r.n, round(r.s, 3)) for r in batch}
    assert got == want


def test_session_stream_matches_batch(spark, catalog, events_stream):
    run_to_memory(session_stream(events_stream), "t_sess", "complete")
    got = {
        (r.user_id, r.session_start): r.n_events for r in spark.table("t_sess").collect()
    }
    batch = (
        catalog.df("events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = {(r.user_id, r.w.start): r.n for r in batch}
    assert got == want


def test_running_totals_stateful(spark, catalog, events_stream):
    run_to_memory(running_totals_stream(events_stream), "t_totals", "update")
    # one batch -> final state per user; compare against batch groupBy
    got = {r.user_id: (r.n_events, round(r.total_value, 3)) for r in spark.table("t_totals").collect()}
    batch = (
        catalog.df("events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    want = {r.user_id: (r.n, round(r.s, 3)) for r in batch}
    assert got == want


def test_stream_upsert_idempotent(spark, tmp_path):
    """foreachBatch upsert: replaying the same source converges (the
    streaming twin of the reference's ON CONFLICT DO NOTHING load)."""
    from mover_spark.streaming.events import read_events_stream
    from mover_spark.streaming.sinks import stream_upsert

    target = str(tmp_path / "events_tbl")
    expected = None
    for attempt, ckpt in enumerate(["ck1", "ck2"]):
        ev = read_events_stream(spark, "/root/testdata/sf0.001")
        # fresh checkpoint each run forces the SOURCE to re-deliver
        # everything; the PK anti-join must still drop every replay
        stream_upsert(ev, target, ["event_id"], str(tmp_path / ckpt))
        got = spark.read.parquet(target).count()
        if expected is None:
            expected = got
            assert got > 0
        else:
            assert got == expected
    distinct = (
        spark.read.parquet(target).select("event_id").distinct().count()
    )
    assert distinct == expected


def test_enrich_join_stream_matches_batch(spark, catalog):
    """Stateless stream-static join: drained per-event rows == batch join."""
    from mover_spark.streaming.events import enrich_join_stream

    run_to_memory(enrich_join_stream(spark, SF_DIR), "t_enrich", "append")
    got = {
        (r.event_type, r.c_mktsegment): r.n
        for r in spark.table("t_enrich")
        .groupBy("event_type", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    cust = catalog.df("customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    want = {
        (r.event_type, r.c_mktsegment): r.n
        for r in catalog.df("events")
        .join(cust, "user_id")
        .groupBy("event_type", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and got


def test_stream_checkpoint_restart_processes_only_new_files(spark, catalog, tmp_path):
    """Exactly-once across restarts: a second availableNow run from the
    same checkpoint must process ONLY files that arrived since the first
    run — the file-source offset log + file-sink commit log contract that
    makes kill/redeploy safe with no reprocessing and no gaps."""
    import os

    src, out, cp = (str(tmp_path / d) for d in ("src", "out", "cp"))
    ev = catalog.df("events").select("event_id", "user_id", "event_type")
    part_a = ev.where(F.col("event_id") % 2 == 0)
    part_b = ev.where(F.col("event_id") % 2 == 1)
    part_a.coalesce(1).write.mode("append").parquet(src)

    schema = ev.schema

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n_a = part_a.count()
    assert spark.read.parquet(out).count() == n_a

    part_b.coalesce(1).write.mode("append").parquet(src)
    drain()
    total = spark.read.parquet(out).count()
    assert total == n_a + part_b.count()  # B processed once, A NOT reprocessed
    ids = spark.read.parquet(out).groupBy("event_id").count().where(F.col("count") > 1)
    assert ids.isEmpty()  # no duplicates at all


def test_multi_microbatch_agg_equals_batch(spark, catalog, tmp_path):
    """maxFilesPerTrigger=1 over a multi-file source forces several
    micro-batches; the watermarked tumbling aggregate must still equal the
    single-batch answer exactly — state carries across batches, decimal
    sums make the fold order-invariant."""
    src = str(tmp_path / "src")
    ev = catalog.df("events").select("event_id", "ts", "user_id", "event_type", "value")
    for i in range(4):
        ev.where(F.col("event_id") % 4 == i).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,4)")).cast("double").alias("s"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "s")
    )
    run_to_memory(agg, "t_multibatch", "complete")
    got = {
        (r.ws, r.event_type): (r.n, r.s) for r in spark.table("t_multibatch").collect()
    }
    want = {
        (r.ws, r.event_type): (r.n, r.s)
        for r in ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,4)")).cast("double").alias("s"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "s")
        .collect()
    }
    assert got == want and len(got) > 100


def test_streaming_neardup_multibatch_equals_batch(spark, catalog, tmp_path):
    """The stateless LSH probe must emit the SAME pair set however the
    stream is micro-batched (maxFilesPerTrigger=1 over 4 files), with no
    duplicate emissions — the per-row first-agreeing-band predicate is the
    emit-once mechanism, there is no stateful distinct to save it."""
    from mover_spark.streaming.neardup import (
        STREAM_MOD,
        corpus_lsh_index,
        neardup_detect_stream,
    )

    docs = catalog.df("documents")
    src = str(tmp_path / "docs_src")
    stream_side = docs.where(F.col("doc_id") % STREAM_MOD == 0)
    for i in range(4):
        stream_side.where(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    corpus = docs.where(F.col("doc_id") % STREAM_MOD != 0)
    index, corpus_shingles = corpus_lsh_index(corpus)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_to_memory(
        neardup_detect_stream(stream, index, corpus_shingles),
        "t_neardup_mb",
        "append",
    )
    got = [
        (r.doc_stream, r.doc_corpus, r.jaccard)
        for r in spark.table("t_neardup_mb").collect()
    ]
    assert len(got) == len(set(got)), "emit-once violated across micro-batches"

    # batch answer: same detector expressed as a plain DataFrame pipeline
    batch = {
        (r.doc_stream, r.doc_corpus, r.jaccard)
        for r in neardup_detect_stream(stream_side, index, corpus_shingles).collect()
    }
    assert set(got) == batch and batch, "stream != batch pair set"


def test_quality_gate_scores_and_guards(spark, catalog):
    """xent_gate_stream's in-row scorer matches the hand-computed
    quantized formula (incl. the OOV floor), zero-token docs drop, the
    vocab cap raises loudly, and the drained parity query returns every
    streamed doc exactly once with both gate outcomes represented."""
    import math

    from mover_spark.streaming.quality import (
        VOCAB_CAP,
        _round_half_away,
        corpus_lm,
        quality_gate_parity,
        xent_gate_stream,
    )

    corpus = spark.createDataFrame(
        [(10, "a a a b"), (11, "a b")], "doc_id long, text string"
    )
    lm, oov = corpus_lm(corpus)
    # counts: a=4, b=2, N=6
    assert lm == {
        "a": _round_half_away(math.log(4 / 6) * 1e9),
        "b": _round_half_away(math.log(2 / 6) * 1e9),
    }
    assert oov == _round_half_away(math.log(1 / 6) * 1e9)

    probe = spark.createDataFrame(
        [(1, "a b"), (2, "zz a"), (3, ""), (4, " ")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in xent_gate_stream(probe, lm, oov).collect()}
    assert set(got) == {1, 2}, "token-less docs must drop"
    assert got[1].xent == round(-((lm["a"] + lm["b"]) / 2) / 1e9, 6)
    assert got[2].xent == round(-((oov + lm["a"]) / 2) / 1e9, 6)
    assert got[2].xent > got[1].xent, "OOV must score as more surprising"

    big = spark.range(VOCAB_CAP + 2).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("w"), F.col("id")).alias("text")
    )
    try:
        corpus_lm(big)
        raise AssertionError("VOCAB_CAP must raise")
    except ValueError as e:
        assert "VOCAB_CAP" in str(e)

    out = quality_gate_parity(spark, SF_DIR).collect()
    docs = catalog.df("documents")
    n_stream = docs.where((F.col("doc_id") % 5 == 0)).count()
    assert len(out) == n_stream, "exactly one score per streamed doc"
    assert len({r.doc_id for r in out}) == len(out)


def test_prior_drain_result_survives_next_drain(spark, catalog):
    """A parity helper's returned DataFrame must stay readable after a
    LATER drain drops the earlier memory-sink temp view (run_to_memory's
    cleanup): drained_table materializes via eager localCheckpoint, so a
    held result is a snapshot, not a lazy view read."""
    from mover_spark.streaming.events import tumbling_batch_parity

    first = tumbling_batch_parity(spark, SF_DIR)
    n_first = first.count()
    second = tumbling_batch_parity(spark, SF_DIR)  # drops first's view
    # the earlier result must still evaluate — before the fix this raised
    # TABLE_OR_VIEW_NOT_FOUND once the next drain's cleanup ran
    assert first.count() == n_first
    assert second.count() == n_first


def test_streaming_ann_probe_multibatch_equals_batch(spark, catalog, tmp_path):
    """foreachBatch retrieval over the persisted ANN index: the drained
    union must equal the batch pq_topk_from_index over the same
    stream/corpus split however the stream is micro-batched
    (maxFilesPerTrigger=1 over 4 files) — per-query answers depend only
    on the static index, never on batch boundaries."""
    from mover_spark.operators.similarity import (
        pq_topk_from_index,
        write_ann_index,
    )
    from mover_spark.streaming.annprobe import STREAM_MOD, ann_probe_stream

    emb = catalog.df("embeddings")
    corpus = emb.where(F.col("vec_id") % STREAM_MOD != 0)
    stream_side = emb.where(F.col("vec_id") % STREAM_MOD == 0)
    index_path = str(tmp_path / "annidx")
    write_ann_index(corpus, index_path)

    src = str(tmp_path / "emb_src")
    for i in range(4):
        stream_side.where(F.col("vec_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    ann_probe_stream(
        stream, index_path, out_dir, str(tmp_path / "ckpt"), k=5, refine=4
    )
    got = {
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in pq_topk_from_index(
            spark, index_path, stream_side, k=5, refine=4
        ).collect()
    }
    assert got == want and want, "stream union != batch top-k"


def test_streaming_ann_probe_pruned_multibatch_guard(
    spark, catalog, tmp_path, monkeypatch
):
    """Pruned (n_probe set) answers are batch-dependent, so the oracle
    comparison is only exact for a single-batch drain. A fixture whose
    embeddings relation is MULTI-file drains in several batches under
    maxFilesPerTrigger=1 — that must surface as a clear assertion, not a
    confusing oracle hash diff; bench-only runs opt out via env."""
    import os as _os
    import shutil

    from mover_spark.streaming.annprobe import ann_probe_parity

    monkeypatch.delenv("SPARK_GRAFT_PROBE_MULTIBATCH_OK", raising=False)
    sf_dir = str(tmp_path / "mfx")
    _os.makedirs(sf_dir)
    catalog.df("embeddings").repartition(3).write.parquet(
        f"{sf_dir}/embeddings.parquet"
    )
    try:
        with pytest.raises(AssertionError, match="micro-batches"):
            ann_probe_parity(spark, sf_dir, n_probe=4)
        # the bench escape hatch turns the same drain into a result
        monkeypatch.setenv("SPARK_GRAFT_PROBE_MULTIBATCH_OK", "1")
        assert ann_probe_parity(spark, sf_dir, n_probe=4).count() > 0
    finally:
        shutil.rmtree(f"/tmp/mover_spark_annindex/{_os.path.basename(sf_dir)}",
                      ignore_errors=True)


def test_streaming_ann_probe_batch_redelivery_idempotent(spark, catalog, tmp_path):
    """foreachBatch is at-least-once: a batch can be re-delivered after a
    successful write whose checkpoint commit was lost. The sink keys each
    batch's output on its stable batch_id (overwrite of batch=<id>), so
    re-running the same batch must not duplicate result rows."""
    from mover_spark.operators.similarity import write_ann_index
    from mover_spark.streaming.annprobe import STREAM_MOD, ann_probe_stream

    emb = catalog.df("embeddings")
    corpus = emb.where(F.col("vec_id") % STREAM_MOD != 0)
    stream_side = emb.where(F.col("vec_id") % STREAM_MOD == 0)
    index_path = str(tmp_path / "annidx_redeliver")
    write_ann_index(corpus, index_path)

    src = str(tmp_path / "emb_src")
    stream_side.coalesce(1).write.parquet(src)
    out_dir = str(tmp_path / "out")

    def drain(ckpt):
        stream = spark.readStream.schema(emb.schema).parquet(src)
        ann_probe_stream(stream, index_path, out_dir, ckpt, k=5, refine=4)

    drain(str(tmp_path / "ckpt1"))
    once = spark.read.parquet(out_dir).count()
    assert once > 0
    # fresh checkpoint, same source, same sink dir = the worst-case
    # re-delivery: batch 0 runs again against an out_dir that already
    # holds batch 0's output
    drain(str(tmp_path / "ckpt2"))
    assert spark.read.parquet(out_dir).count() == once


def test_rocksdb_threshold_adapts_to_heap(spark, monkeypatch):
    """The state-store switch scales with executor memory (r8 verdict #6):
    env override wins, otherwise heap/16 — a 16g bench session keeps
    sf10 drains on the (measured 1.5x faster) in-heap store while the
    sf100 inputs that OOMed a 16g heap (1.7 GB session source) go to
    RocksDB."""
    import os

    from mover_spark.streaming.events import (
        _rocksdb_threshold_bytes,
        _rocksdb_threshold_for_heap,
    )

    monkeypatch.delenv("MOVER_SPARK_ROCKSDB_BYTES", raising=False)
    thresh = _rocksdb_threshold_bytes(spark)
    heap = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    assert thresh == heap // 16
    # the sf10/sf100 bounds were measured on a 16g heap: check them there,
    # not at whatever heap this host's session happens to get
    at16g = _rocksdb_threshold_for_heap(16 << 30)
    assert 410 << 20 < at16g, "sf10 dedup (2x205MB) must stay in-heap at 16g"
    assert int(1.7 * (1 << 30)) > at16g, "the measured-fatal sf100 session input must go to RocksDB"
    monkeypatch.setenv("MOVER_SPARK_ROCKSDB_BYTES", "123")
    assert _rocksdb_threshold_bytes(spark) == 123


def test_streaming_ann_probe_recall_monitor(spark, tmp_path):
    """Round-11 recall monitor: a pruned drain (n_probe=1) over a PLANTED
    adversarial geometry — every query's true neighbors live in the cell
    the probe does NOT visit — must write a flagged low-recall observation
    under out_dir/_recall, while a full-probe drain over the same data
    records recall 1.0 unflagged. The monitor rows are underscore-pathed,
    so the result parquet stays clean."""
    from mover_spark.operators.similarity import write_ann_index
    from mover_spark.streaming.annprobe import ann_probe_stream, read_probe_recall

    dim = 4
    # cell 0 holds the true neighbors (close to every query); cell 1 holds
    # junk. Queries sit just on cell 1's side of the centroid boundary.
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    good = [
        (100 + i, [0.71 + i * 1e-4, 0.70, 0.0, 0.0], 0) for i in range(20)
    ]  # dot c0 > dot c1 -> cell 0
    junk = [
        (200 + i, [0.05, 1.0, 0.3 + i * 1e-3, 0.0], 1) for i in range(20)
    ]  # cell 1
    corpus = spark.createDataFrame(
        good + junk, "vec_id long, embedding array<double>, label int"
    )
    queries = spark.createDataFrame(
        [(i, [0.69, 0.72, 0.0, 0.0], 0) for i in range(8)],
        "vec_id long, embedding array<double>, label int",
    )
    path = str(tmp_path / "annidx_recall")
    write_ann_index(corpus, path, m=2, n_codes=8, centroids=cents)

    src = str(tmp_path / "qsrc")
    queries.coalesce(1).write.parquet(src)

    def drain(out, ckpt, n_probe):
        stream = spark.readStream.schema(corpus.schema).parquet(src)
        ann_probe_stream(
            stream, path, out, ckpt, k=5, refine=4, n_probe=n_probe,
            recall_sample=8, recall_floor=0.8,
        )

    out_low = str(tmp_path / "out_low")
    drain(out_low, str(tmp_path / "ckpt_low"), n_probe=1)
    obs = read_probe_recall(spark, out_low).collect()
    assert len(obs) == 1
    assert obs[0].n_queries == 8 and obs[0].k == 5
    assert obs[0].recall < 0.2 and obs[0].flagged, obs
    # the monitor row must not leak into the result relation
    assert "recall" not in spark.read.parquet(out_low).columns

    out_full = str(tmp_path / "out_full")
    drain(out_full, str(tmp_path / "ckpt_full"), n_probe=2)
    obs_full = read_probe_recall(spark, out_full).collect()
    assert len(obs_full) == 1
    assert obs_full[0].recall == 1.0 and not obs_full[0].flagged, obs_full


def test_recall_monitor_counts_queries_with_few_neighbors(spark, tmp_path):
    """ADVICE r11: n_queries must be the distinct sampled-query count, not
    total_exact_rows / k — with an index SMALLER than k every query has
    fewer than k exact neighbors and the ratio undercounts (here 4 queries
    x 3 neighbors / k=5 would report 2)."""
    from mover_spark.operators.similarity import write_ann_index
    from mover_spark.streaming.annprobe import ann_probe_stream, read_probe_recall

    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    corpus = spark.createDataFrame(
        [(100 + i, [1.0, 0.01 * i, 0.0, 0.0], 0) for i in range(3)],
        "vec_id long, embedding array<double>, label int",
    )
    queries = spark.createDataFrame(
        [(i, [0.99, 0.1, 0.0, 0.0], 0) for i in range(4)],
        "vec_id long, embedding array<double>, label int",
    )
    path = str(tmp_path / "annidx_small")
    write_ann_index(corpus, path, m=2, n_codes=2, centroids=cents)
    src = str(tmp_path / "qsrc_small")
    queries.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    ann_probe_stream(
        stream, path, str(tmp_path / "out_small"), str(tmp_path / "ckpt_small"),
        k=5, refine=3, n_probe=1, recall_sample=4, recall_floor=0.5,
    )
    obs = read_probe_recall(spark, str(tmp_path / "out_small")).collect()
    assert len(obs) == 1
    assert obs[0].n_queries == 4, obs  # NOT 12 // 5 == 2
    assert obs[0].recall == 1.0 and not obs[0].flagged


def test_recall_monitor_is_one_aggregate(spark, tmp_path):
    """The recall monitor evaluates the brute-force exact top-k in ONE
    action (a left join of the sampled probed pairs, aggregated as total,
    hits and distinct queries), not three counts over it. Counted by the
    drain's job group (its runId) through statusTracker: a monitored
    one-batch drain launches fewer extra jobs than the 19 the three-count
    monitor took on this geometry (the aggregate takes 9)."""
    from mover_spark.operators.similarity import write_ann_index
    from mover_spark.streaming.annprobe import ann_probe_stream, read_probe_recall

    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    corpus = spark.createDataFrame(
        [(100 + i, [0.71 + i * 1e-4, 0.70, 0.0, 0.0], 0) for i in range(20)]
        + [(200 + i, [0.05, 1.0, 0.3 + i * 1e-3, 0.0], 1) for i in range(20)],
        "vec_id long, embedding array<double>, label int",
    )
    queries = spark.createDataFrame(
        [(i, [0.69, 0.72, 0.0, 0.0], 0) for i in range(8)],
        "vec_id long, embedding array<double>, label int",
    )
    path = str(tmp_path / "annidx_jobs")
    write_ann_index(corpus, path, m=2, n_codes=8, centroids=cents)
    src = str(tmp_path / "qsrc_jobs")
    queries.coalesce(1).write.parquet(src)
    tracker = spark.sparkContext.statusTracker()

    def drain_jobs(name, sample):
        stream = spark.readStream.schema(corpus.schema).parquet(src)
        q = ann_probe_stream(
            stream, path, str(tmp_path / f"out_{name}"), str(tmp_path / f"ckpt_{name}"),
            k=5, refine=4, n_probe=1, recall_sample=sample, recall_floor=0.8,
        )
        return len(tracker.getJobIdsForGroup(str(q.runId)))

    plain = drain_jobs("plain", 0)
    monitored = drain_jobs("monitored", 8)
    assert 0 < monitored - plain < 19, (plain, monitored)
    obs = read_probe_recall(spark, str(tmp_path / "out_monitored")).collect()
    assert len(obs) == 1 and obs[0].n_queries == 8 and obs[0].flagged, obs
