"""Similarity search over the `embeddings` table (array<float>, dim 64).

Two paths:
- ``brute_force_topk``  exact top-k cosine for a query set — one broadcast
  join + per-partition ranking; the correctness baseline and the oracle
  anchor (quantized-integer math, engine-exact; see dedup.qcosine).
- ``lsh_topk``          random-hyperplane LSH: 16-bit signatures, bucket
  join (optionally multi-probe hamming-1), exact re-rank inside buckets.
  The 100-TB path: candidate generation is a hash-partitioned equi-join on
  (bucket), never an all-pairs product; probe count trades recall for cost.

Design for scale: queries are broadcast (they're small by definition);
corpus-side work is embarrassingly parallel; the final top-k is a
per-query-partition window, k rows per query cross the wire.
"""

import math
import os
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import memo
from .dedup import qcosine, quantized_vec

EMB_DIM = 64
# 6 planes -> 64 buckets: sized so buckets stay populated at the test SFs;
# at cluster scale raise toward log2(n_vectors / target_bucket_size)
N_PLANES = 6


def hyperplanes_for(n_planes: int, dim: int = EMB_DIM, seed: int = 7) -> list[list[int]]:
    """Deterministic ±1 hyperplanes — same bits for a given (n, dim, seed)
    on every run/engine, so signatures are reproducible at any size."""
    rng = random.Random(seed)
    return [[rng.choice((-1, 1)) for _ in range(dim)] for _ in range(n_planes)]


#: baked default planes (back-compat with the oracle-checked queries)
HYPERPLANES: list[list[int]] = hyperplanes_for(N_PLANES)


def auto_ivf_params(n_vectors: int, target_probe_fraction: float = 0.25) -> tuple[int, int]:
    """Data-sized IVF knobs: n_centroids ~ sqrt(n) (the classic IVF sizing —
    cells of ~sqrt(n) vectors balance assignment cost against probe cost),
    n_probe sized so ~target_probe_fraction of the corpus is re-ranked per
    query. Returns (n_centroids, n_probe)."""
    n_centroids = max(1, min(4096, int(math.sqrt(max(n_vectors, 1)))))
    n_probe = max(1, min(n_centroids, int(round(n_centroids * target_probe_fraction))))
    return n_centroids, n_probe


def auto_lsh_planes(n_vectors: int, target_bucket: int = 32) -> int:
    """Data-sized hyperplane count: log2(n / target_bucket) planes puts
    ~target_bucket vectors in each of the 2^planes buckets."""
    return max(2, min(24, int(round(math.log2(max(n_vectors, 1) / max(target_bucket, 1) + 1)))))


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
) -> list[tuple[int, list[float]]]:
    """K-means coarse quantizer (pyspark.ml, distributed Lloyd iterations) —
    the real-recall upgrade over the deterministic first-n quantizer; the
    fixed seed keeps runs reproducible. Returns [(cell_id, centroid)], cell
    ids 0..k-1, ready to pass to ``ivf_topk(centroids=...)``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    return [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]


def _empty_topk(df: DataFrame, id_col: str) -> DataFrame:
    """Zero-row result with the (query_id, neighbor_id, rank, cosine)
    schema every top-k operator returns — the shared degenerate-input exit
    (empty corpus, empty query set, all-zero-norm queries)."""
    return (
        df.select(F.col(id_col).alias("query_id"))
        .withColumn("neighbor_id", F.col("query_id"))
        .withColumn("rank", F.lit(1).cast("int"))
        .withColumn("cosine", F.lit(0.0))
        .limit(0)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k per query vector. Deterministic ranking:
    quantized-integer cosine, ties broken by neighbor id."""
    return _brute_force_topk_qc(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), quantized_vec(vec_col).alias("qc")
        ),
        queries,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
    )


def _brute_force_topk_qc(
    corpus_qc: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """brute_force_topk over an already-quantized corpus projection
    (neighbor_id, qc) — lets the drift probe rank against the index's
    STORED vectors without a lossy de-quantize round trip."""
    from .dedup import qdot

    par = corpus_qc.sparkSession.sparkContext.defaultParallelism * 2
    # norms precomputed per side: one interpreted dot-product per candidate
    # pair, not three (see ivf_topk)
    c = (
        corpus_qc
        .withColumn("cnorm", F.sqrt(qdot(F.col("qc"), F.col("qc")).cast("double")))
        .where(F.col("cnorm") > 0)  # zero-norm: cosine undefined; ANSI div guard
        .repartition(par)  # nested-loop parallelism follows the corpus side
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), quantized_vec(vec_col).alias("qq")
        )
        .withColumn("qnorm", F.sqrt(qdot(F.col("qq"), F.col("qq")).cast("double")))
        .where(F.col("qnorm") > 0)  # zero-norm: cosine undefined; ANSI div guard
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                qdot(F.col("qq"), F.col("qc")).cast("double") / (F.col("qnorm") * F.col("cnorm")), 6
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


N_CENTROIDS = 16
N_PROBE = 4


def _ranked_cells_udf(cents: list[tuple[int, list[int]]]):
    """Vectorized (Arrow/numpy) centroid scorer: for each input quantized
    vector, returns every cell id ranked best-first by (cosine desc, cid asc).

    One int64 matmul per batch — exact: quantized entries are <= 1e3, so
    dot products (< 2^27 per term, < 2^33 summed) never round, making the
    scores bit-identical to the JVM fold and the DuckDB oracle in ANY
    summation order. This is the piece that scales to real quantizers:
    at 4096 centroids a per-row expression tree is untenable, while the
    (batch x dim) @ (dim x cells) matmul stays a single BLAS call."""
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)  # ascending
    all_int = all(
        all(float(x).is_integer() for x in v) for _, v in cents
    )
    # int64 for the oracle-exact deterministic quantizer; float64 for trained
    # (k-means) centroids, where only assignment CONSISTENCY matters — corpus
    # and queries score cells through this same closure
    C = np.array([v for _, v in cents], dtype=np.int64 if all_int else np.float64)
    cnorms = np.sqrt((C * C).sum(axis=1).astype(np.float64))

    @F.pandas_udf("array<long>")
    def ranked(batch: pd.Series) -> pd.Series:
        M = np.array(batch.tolist(), dtype=C.dtype)  # (n, d)
        dots = (M @ C.T).astype(np.float64)
        qn = np.sqrt((M * M).sum(axis=1).astype(np.float64))
        cos = dots / (qn[:, None] * cnorms[None, :])
        # lexsort: primary -cos asc (== cos desc), secondary index asc ==
        # cid asc (cids are sorted) — matches the oracle's ROW_NUMBER order
        order = np.argsort(-cos, axis=1, kind="stable")
        return pd.Series(list(cids[order]))

    return ranked


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int | None = N_CENTROIDS,
    n_probe: int | None = N_PROBE,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    into n_centroids cells; each query exactly re-ranks only its n_probe
    nearest cells (the multiprobe knob) — the classic FAISS-style index
    expressed as DataFrames.

    Quantizer modes:
    - default: deterministic (the n_centroids smallest-id vectors), so
      results are reproducible and oracle-checkable;
    - ``centroids=train_ivf_centroids(corpus, k)``: k-means cells for real
      recall — same plan, better cell geometry (recall-tested, not
      hash-checked: k-means output depends on the ml library's iteration
      details, which no SQL oracle can mirror);
    - ``n_centroids=None``/``n_probe=None``: data-sized via
      ``auto_ivf_params`` (sqrt(n) cells) instead of the test-SF constants.
    Scale shape: centroids are collected once (tiny) and shipped inside the
    Arrow-vectorized scorer closure, so cell assignment is a narrow map —
    the only shuffle is the (cell)-keyed candidate join, touching
    n_probe/n_centroids of the corpus per query."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), quantized_vec(vec_col).alias("qc"))
    if n_centroids is None or n_probe is None:
        auto_c, auto_p = auto_ivf_params(corpus.count())
        n_centroids = n_centroids if n_centroids is not None else auto_c
        n_probe = n_probe if n_probe is not None else auto_p
    if centroids is not None:
        # trained centroids are in RAW embedding space; scale to the same
        # quantized space as the vectors they score (quantized_vec = x*1000)
        cents = [(cid, [x * 1000.0 for x in v]) for cid, v in centroids]
        n_probe = min(n_probe, len(cents))
    else:
        cents = [
            (r.neighbor_id, r.qc)
            for r in c.orderBy("neighbor_id").limit(n_centroids).collect()
        ]
    if not cents:
        # empty corpus (or empty trained-centroid list): no cells exist, so
        # there are no candidates by construction — return the empty result
        # directly instead of shipping a (0,)-shaped centroid matrix into
        # the scorer closure (numpy axis-1 ops die on it)
        return _empty_topk(queries, id_col)
    ranked = _ranked_cells_udf(cents)

    from .dedup import qdot

    # norms ride along through the join: the per-candidate re-rank then costs
    # ONE dot-product aggregate instead of three (higher-order functions are
    # interpreted, not codegen'd — tripling them tripled the hot-path cost)
    assigned = (
        c.withColumn(
            "cnorm", F.sqrt(qdot(F.col("qc"), F.col("qc")).cast("double"))
        )
        .where(F.col("cnorm") > 0)  # zero-norm: cosine undefined; ANSI guard
        .withColumn("cid", ranked(F.col("qc"))[0])
    )
    q = queries.select(F.col(id_col).alias("query_id"), quantized_vec(vec_col).alias("qq"))
    probes = (
        q.withColumn(
            "qnorm", F.sqrt(qdot(F.col("qq"), F.col("qq")).cast("double"))
        )
        .where(F.col("qnorm") > 0)  # zero-norm: cosine undefined; ANSI guard
        .withColumn("cid", F.explode(F.slice(ranked(F.col("qq")), 1, n_probe)))
    )

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        assigned.join(F.broadcast(probes), on=["cid"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        # multiply order matches the oracle: query norm first
        .withColumn(
            "cosine",
            F.round(
                qdot(F.col("qq"), F.col("qc")).cast("double")
                / (F.col("qnorm") * F.col("cnorm")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


PQ_M = 8  # subspaces: dim 64 -> 8 per sub-quantizer
PQ_CODES = 16  # codewords per subspace in the deterministic (oracle) mode


def pq_codebooks_deterministic(
    corpus: DataFrame,
    n_codes: int = PQ_CODES,
    m: int = PQ_M,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic PQ codebooks: subspace m's codewords are the m-th
    sub-slices of the n_codes smallest-id corpus vectors, in QUANTIZED
    integer space — reproducible on any engine, so the whole ADC ranking
    is oracle-checkable (the same move as ivf_topk's deterministic coarse
    quantizer). Returns an int64 array shaped (m, n_codes', dsub) with
    n_codes' = min(n_codes, |corpus|)."""
    rows = (
        corpus.select(F.col(id_col), quantized_vec(vec_col).alias("qv"))
        .orderBy(id_col)
        .limit(n_codes)
        .collect()
    )
    if not rows:
        return np.zeros((m, 0, 0), dtype=np.int64)
    V = np.array([r.qv for r in rows], dtype=np.int64)  # (n', dim)
    dsub = V.shape[1] // m
    # (m, n', dsub): subspace-major
    return np.stack([V[:, j * dsub : (j + 1) * dsub] for j in range(m)])


def train_pq_codebooks(
    corpus: DataFrame,
    n_codes: int = 256,
    m: int = PQ_M,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    max_iter: int = 20,
) -> np.ndarray:
    """K-means sub-quantizers (one pyspark.ml KMeans per subspace over the
    quantized sub-vectors) — the real-recall codebooks for production use.
    Same contract as train_ivf_centroids: better geometry, same plan;
    recall-tested rather than hash-checked (k-means output depends on the
    ml library's iteration details, which no SQL oracle can mirror)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    qv = corpus.select(quantized_vec(vec_col).alias("qv"))
    first = qv.select(F.size("qv").alias("n")).first()
    if first is None:
        return np.zeros((m, 0, 0), dtype=np.int64)
    dsub = first.n // m
    books = []
    for j in range(m):
        feats = qv.select(
            array_to_vector(
                F.slice("qv", j * dsub + 1, dsub).cast("array<double>")
            ).alias("features")
        )
        model = KMeans(k=n_codes, seed=seed, maxIter=max_iter).fit(feats)
        books.append(np.array([c for c in model.clusterCenters()], dtype=np.float64))
    return np.stack(books)  # (m, n_codes, dsub), float64


def _pq_encode_udf(cb: np.ndarray):
    """struct(codes array<int>, cnorm_sq long) per quantized vector: codes
    are per-subspace L2-argmin codeword indices (ties -> smallest code,
    matching the oracle's ORDER BY d, code), cnorm_sq is the squared norm
    of the RECONSTRUCTED vector — both pure integer math when the
    codebooks are (int-exact dots never round)."""
    m, n_codes, dsub = cb.shape
    # (m, n_codes) codeword squared norms, precomputed once per executor
    cw_sq = (cb.astype(np.float64) ** 2).sum(axis=2)

    @F.pandas_udf("struct<codes: array<int>, cnorm_sq: long>")
    def enc(batch: pd.Series) -> pd.DataFrame:
        V = np.array(batch.tolist(), dtype=np.int64)  # (n, dim)
        n = V.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        rec_sq = np.zeros(n, dtype=np.float64)
        for j in range(m):
            S = V[:, j * dsub : (j + 1) * dsub].astype(np.float64)
            # argmin_c |s - c|^2 == argmin_c (|c|^2 - 2 s.c); ties -> the
            # SMALLEST code: np.argmin returns the first minimum index
            d2 = cw_sq[j][None, :] - 2.0 * (S @ cb[j].astype(np.float64).T)
            best = np.argmin(d2, axis=1)
            codes[:, j] = best
            rec_sq += cw_sq[j][best]
        return pd.DataFrame(
            {"codes": list(codes), "cnorm_sq": np.rint(rec_sq).astype(np.int64)}
        )

    return enc


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    refine: int = 4,
    codebooks: np.ndarray | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization ANN: ADC (asymmetric distance computation)
    scan over compressed codes, then an exact re-rank of the survivors.

    Why this is THE 100-TB shape: each corpus vector compresses to PQ_M
    one-byte codes (64 float32s -> 8 bytes, 32×), so the scan phase reads
    the code table instead of the embedding column — 100 TB of floats
    becomes ~3 TB of codes — and each query scores a candidate with PQ_M
    lookup-table gathers instead of a 64-element dot product. Only the
    refine×k survivors per query ever touch their original vectors.

    Plan shape: encoding is one narrow Arrow kernel over the corpus (no
    shuffle); scoring is mapInPandas over code partitions with the query
    lookup tables shipped in the closure (queries are small by
    definition) — each partition emits only its own plausible top-R rows
    per query (score >= partition Rth-best minus the 6-dp rounding
    margin, so partition pruning can NEVER change the global answer);
    the global top-R cut and the exact refine are ordinary broadcast
    joins + one per-query window.

    Determinism: integer ADC dots and reconstructed norms come out of the
    kernels; ALL float ranking math (round(dot/(qnorm*cnorm), 6)) happens
    in the Spark plan with the same operation order as the SQL oracle.
    Default codebooks are deterministic (pq_codebooks_deterministic);
    pass train_pq_codebooks(...) output for real-recall production use."""
    cb = codebooks if codebooks is not None else pq_codebooks_deterministic(
        corpus, vec_col=vec_col, id_col=id_col
    )
    if cb.shape[1] == 0:
        return _empty_topk(queries, id_col)
    enc = _pq_encode_udf(cb)
    codes = corpus.select(
        F.col(id_col).alias("neighbor_id"), enc(quantized_vec(vec_col)).alias("e")
    ).select("neighbor_id", "e.codes", "e.cnorm_sq")
    vectors = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantized_vec(vec_col).alias("qc")
    )
    return _pq_topk_core(
        codes, vectors, queries, cb, k=k, refine=refine, vec_col=vec_col, id_col=id_col
    )


def _pq_topk_core(
    codes: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    cb: np.ndarray,
    k: int,
    refine: int,
    vec_col: str,
    id_col: str,
    probed_cells: dict[int, list[int]] | None = None,
) -> DataFrame:
    """ADC scan + exact refine over an explicit (codes, vectors) pair —
    shared by pq_topk (which derives both from the live corpus) and
    pq_topk_from_index (which loads both from a persisted parquet index).
    `codes` is (neighbor_id, codes array<int>, cnorm_sq long); `vectors`
    is (neighbor_id, qc array<long>) and is only touched for the
    refine×k survivors per query.

    With `probed_cells` (query_id -> its probed cell ids; `codes` then
    carries a `cell` column) the kernel scores each cell's rows ONLY
    against the queries probing that cell — per-cell tiles instead of
    the all-queries-by-all-rows block. The index layout partitions codes
    by cell, so a scan partition holds one (or few) cells and the tile
    loop degenerates to the dense kernel restricted to the right query
    subset."""
    from .dedup import qdot

    m, n_codes, dsub = cb.shape

    # queries are small by definition: collect once, ship LUTs in-closure
    qrows = (
        queries.select(F.col(id_col).alias("query_id"), quantized_vec(vec_col).alias("qq"))
        .orderBy("query_id")
        .collect()
    )
    if not qrows:
        return _empty_topk(queries, id_col)
    Q = np.array([r.qq for r in qrows], dtype=np.int64)  # (nq, dim)
    qids = np.array([r.query_id for r in qrows], dtype=np.int64)
    qnorm = np.sqrt((Q.astype(np.float64) ** 2).sum(axis=1))
    keep = qnorm > 0  # zero-norm query: cosine undefined (ANSI guard)
    Q, qids, qnorm = Q[keep], qids[keep], qnorm[keep]
    nq = len(qids)
    if nq == 0:
        return _empty_topk(queries, id_col)
    # LUT[q][j][c] = dot(query q's subspace j, codeword c) — int-exact
    lut = np.stack(
        [
            Q[:, j * dsub : (j + 1) * dsub].astype(np.float64)
            @ cb[j].astype(np.float64).T
            for j in range(m)
        ],
        axis=1,
    )  # (nq, m, n_codes)
    r_cut = max(k * refine, k)
    # per-query-cell mode: invert to cell -> probing query indices (the
    # kernel walks cells, not queries)
    cell_to_q = None
    if probed_cells is not None:
        cell_to_q = {}
        for qi, qid in enumerate(qids):
            for c0 in probed_cells.get(int(qid), []):
                cell_to_q.setdefault(int(c0), []).append(qi)
        cell_to_q = {c0: np.array(v) for c0, v in cell_to_q.items()}

    def score_partition(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
            nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cn_sq = pdf["cnorm_sq"].to_numpy(dtype=np.int64)
            cn = np.sqrt(cn_sq.astype(np.float64))
            ok = cn > 0
            out_q, out_n, out_d, out_c = [], [], [], []

            def score_tile(q_sel, r_sel):
                """ADC + per-query top-r_cut for a (queries x rows) tile,
                fully vectorized across the tile's queries (a per-query
                Python loop here measured 435-tiny-tiles x 32 batches of
                pure interpreter overhead in per-query-cell mode).
                q_sel/r_sel None = the full dense block."""
                Ct = C if r_sel is None else C[r_sel]
                nid_t = nid if r_sel is None else nid[r_sel]
                cn_t = cn if r_sel is None else cn[r_sel]
                ok_t = ok if r_sel is None else ok[r_sel]
                cnsq_t = cn_sq if r_sel is None else cn_sq[r_sel]
                qid_t = qids if q_sel is None else qids[q_sel]
                qn_t = qnorm if q_sel is None else qnorm[q_sel]
                # ADC: gather per subspace, sum — (tile queries, tile rows)
                dots = np.zeros((len(qid_t), Ct.shape[0]), dtype=np.float64)
                if q_sel is None:
                    for j in range(m):
                        dots += lut[:, j, :][:, Ct[:, j]]
                else:
                    # direct broadcast gather: materializing lut[q_sel]
                    # per tile copied the query subset's whole LUT
                    # (~queries x m x n_codes floats) once per CELL —
                    # measured as tens of GB of pure memcpy per batch at
                    # 1,378 cells; this touches only the tile's output
                    qix = q_sel[:, None]
                    for j in range(m):
                        dots += lut[qix, j, Ct[None, :, j]]
                s = np.where(
                    ok_t[None, :] & (nid_t[None, :] != qid_t[:, None]),
                    dots / np.where(ok_t, cn_t, 1.0)[None, :],
                    -np.inf,
                )
                live = np.isfinite(s)
                if s.shape[1] > r_cut:
                    # r_cut-th largest per query; -inf when a query has
                    # fewer live rows than the cut (then the mask below
                    # degenerates to keep-all-live, matching the scalar
                    # n_live <= r_cut branch exactly)
                    kth = np.partition(s, -r_cut, axis=1)[:, -r_cut]
                else:
                    kth = np.full(s.shape[0], -np.inf)
                # margin: a row can only displace a kept one after 6-dp
                # rounding if its cos is within 1e-6 — i.e. its
                # unnormalized score within 2e-6 * qnorm of the cut
                mask = live & (s >= (kth - 2e-6 * qn_t)[:, None])
                ti_idx, r_idx = np.nonzero(mask)
                if len(ti_idx) == 0:
                    return
                out_q.append(qid_t[ti_idx])
                out_n.append(nid_t[r_idx])
                out_d.append(np.rint(dots[ti_idx, r_idx]).astype(np.int64))
                out_c.append(cnsq_t[r_idx])

            if cell_to_q is None:
                score_tile(None, None)
            else:
                cells_arr = pdf["cell"].to_numpy()
                for cell_val in np.unique(cells_arr):
                    q_sel = cell_to_q.get(int(cell_val))
                    if q_sel is None or len(q_sel) == 0:
                        continue
                    score_tile(q_sel, np.flatnonzero(cells_arr == cell_val))
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "approx_dot": np.concatenate(out_d),
                    "cnorm_sq": np.concatenate(out_c),
                }
            )

    cand = codes.mapInPandas(
        score_partition,
        "query_id long, neighbor_id long, approx_dot long, cnorm_sq long",
    )

    qdf = (
        queries.select(F.col(id_col).alias("query_id"), quantized_vec(vec_col).alias("qq"))
        .withColumn("qnorm", F.sqrt(qdot(F.col("qq"), F.col("qq")).cast("double")))
        .where(F.col("qnorm") > 0)
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("approx_cos"), F.asc("neighbor_id"))
    shortlist = (
        cand.join(F.broadcast(qdf), "query_id")
        .withColumn(
            "approx_cos",
            F.round(
                F.col("approx_dot").cast("double")
                / (F.col("qnorm") * F.sqrt(F.col("cnorm_sq").cast("double"))),
                6,
            ),
        )
        .withColumn("arank", F.row_number().over(wr))
        .where(F.col("arank") <= r_cut)
    )

    c = (
        vectors.withColumn(
            "cnorm", F.sqrt(qdot(F.col("qc"), F.col("qc")).cast("double"))
        )
        .where(F.col("cnorm") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        shortlist.select("query_id", "neighbor_id", "qq", "qnorm")
        .join(c, "neighbor_id")
        .withColumn(
            "cosine",
            F.round(
                qdot(F.col("qq"), F.col("qc")).cast("double")
                / (F.col("qnorm") * F.col("cnorm")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


ANN_INDEX_VERSION = 1
#: quantized_vec grain the index was encoded with (dedup.quantized_vec)
ANN_QUANT_SCALE = 1000


def write_ann_index(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    n_codes: int = PQ_CODES,
    n_cells: int = N_CENTROIDS,
    codebooks: np.ndarray | None = None,
    centroids: list[tuple[int, list]] | None = None,
    probe_baseline: bool = True,
) -> None:
    """Persist a vector corpus's ANN state to parquet for CROSS-JOB reuse —
    the companion of dedup.write_signature_index for the similarity side.
    A daily retrieval/dedup pipeline is a new Spark job each day; without
    this every job re-pays the full corpus encode (assignment + PQ codes),
    the dominant ANN cost at 100 TB. Layout under `path`:

    - ``codes/``     (neighbor_id, codes array<int>, cnorm_sq, qv),
      directory-partitioned by the coarse IVF ``cell`` — an n_probe query
      prunes whole cell directories at planning time, and the ADC scan
      projects only (neighbor_id, codes, cnorm_sq): columnar pruning means
      the 8-byte codes are read without touching the stored vectors. ``qv``
      (the quantized vector) rides in the same table for the exact refine,
      which reads it only for the refine×k survivors.
    - ``centroids/`` (cell, centroid array<long>) — the coarse quantizer.
    - ``codebooks/`` (subspace, code, vals array<long>) — PQ sub-quantizers.
    - ``meta/``      one row pinning (version, m, n_codes, n_cells, dim,
      quant_scale, id_col, n_vectors): readers validate before trusting
      codes, because an index encoded under different quantization
      constants would rank garbage silently, not error.

    Defaults are the deterministic quantizers, so from-index results are
    oracle-checkable; pass trained centroids/codebooks for production
    recall (same layout, same readers)."""
    spark = corpus.sparkSession
    cb = (
        codebooks
        if codebooks is not None
        else pq_codebooks_deterministic(corpus, n_codes, m, vec_col, id_col)
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantized_vec(vec_col).alias("qv")
    )
    if centroids is not None:
        cents = [(cid, [x * float(ANN_QUANT_SCALE) for x in v]) for cid, v in centroids]
    else:
        cents = [
            (r.neighbor_id, r.qv)
            for r in c.orderBy("neighbor_id").limit(n_cells).collect()
        ]
    if not cents or cb.shape[1] == 0:
        raise ValueError("write_ann_index: empty corpus — nothing to index")
    ranked = _ranked_cells_udf(cents)
    enc = _pq_encode_udf(cb)
    (
        c.withColumn("cell", ranked(F.col("qv"))[0])
        .withColumn("e", enc(F.col("qv")))
        .select("neighbor_id", "cell", "e.codes", "e.cnorm_sq", "qv")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    spark.createDataFrame(
        [(int(cid), [float(x) for x in v]) for cid, v in cents],
        "cell long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    mm, nc, dsub = cb.shape
    spark.createDataFrame(
        [
            (j, code, [float(x) for x in cb[j, code]])
            for j in range(mm)
            for code in range(nc)
        ],
        "subspace int, code int, vals array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    dim = mm * dsub
    # count the WRITTEN codes, not c: c.count() would re-quantize the full
    # corpus (a second Arrow pass) just to stamp a row count
    n_vectors = spark.read.parquet(f"{path}/codes").count()
    spark.createDataFrame(
        [
            (
                ANN_INDEX_VERSION,
                mm,
                nc,
                len(cents),
                dim,
                ANN_QUANT_SCALE,
                id_col,
                n_vectors,
            )
        ],
        "version int, m int, n_codes int, n_cells int, dim int, "
        "quant_scale int, id_col string, n_vectors long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    if probe_baseline and n_vectors > 0:
        # the index's OWN recall on its training distribution: the
        # reference point every later append's drift probe compares to
        # (PQ/ADC recall is data-dependent, so the baseline must be
        # measured, not assumed)
        probe = ann_drift_probe(
            spark, path, corpus, vec_col=vec_col, id_col=id_col
        )
        record_ann_drift(
            spark, path, probe, n_vectors, flagged=False, baseline=True
        )


def append_to_ann_index(
    increment: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_drift: bool = True,
) -> int:
    """Encode an increment with the index's STORED quantizers and append
    its cell-partitioned codes — the daily mutation for the retrieval
    side (companion of dedup.append_to_signature_index): the base corpus
    is never rescanned or re-encoded, and because the coarse centroids
    and PQ codebooks are frozen, each appended row's (cell, codes,
    cnorm_sq, qv) is byte-identical to what a full-corpus rebuild under
    the same quantizers would produce — so searches over the appended
    index equal searches over the rebuilt one (equality-tested in
    tests/test_clusters_ivf.py). Work is increment-sized: one encode pass
    plus a partitioned parquet append; meta's ``n_vectors`` is rewritten.

    Documented limit (standard IVF/PQ practice, Jégou et al. TPAMI'11):
    frozen quantizers do not track distribution drift — a corpus whose
    embedding distribution moves needs a periodic ``write_ann_index``
    retrain-and-rebuild. The drift is now MEASURED, not assumed: with
    ``probe_drift`` (default), each append runs ann_drift_probe with the
    increment itself as the query sample — exactly the distribution that
    would expose stale quantizers — and appends the observation to
    ``<path>/drift``; a flagged row (sampled overlap@k below
    ANN_DRIFT_RECALL_FLOOR) is the rebuild trigger. Returns rows
    appended."""
    spark = increment.sparkSession
    _, cents, cb, meta = read_ann_index(spark, path)  # validates constants
    if meta.id_col != id_col:
        raise ValueError(
            f"ANN index at {path} was built over id column {meta.id_col!r}, "
            f"appended with {id_col!r}"
        )
    ranked = _ranked_cells_udf(cents)
    enc = _pq_encode_udf(cb)
    out = (
        increment.select(
            F.col(id_col).alias("neighbor_id"), quantized_vec(vec_col).alias("qv")
        )
        .withColumn("cell", ranked(F.col("qv"))[0])
        .withColumn("e", enc(F.col("qv")))
        .select("neighbor_id", "cell", "e.codes", "e.cnorm_sq", "qv")
        .persist()
    )
    try:
        n = out.count()
        out.write.mode("append").partitionBy("cell").parquet(f"{path}/codes")
    finally:
        out.unpersist()
    spark.createDataFrame(
        [
            (
                ANN_INDEX_VERSION,
                int(meta.m),
                int(meta.n_codes),
                int(meta.n_cells),
                int(meta.dim),
                ANN_QUANT_SCALE,
                meta.id_col,
                int(meta.n_vectors) + n,
            )
        ],
        "version int, m int, n_codes int, n_cells int, dim int, "
        "quant_scale int, id_col string, n_vectors long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    if probe_drift and n > 0:
        probe = ann_drift_probe(
            spark, path, increment, vec_col=vec_col, id_col=id_col
        )
        try:
            base_rows = (
                spark.read.parquet(f"{path}/drift")
                .where(F.col("baseline"))
                .orderBy("n_vectors")
                .limit(1)
                .collect()
            )
        except Exception:
            base_rows = []  # pre-drift-tracking index: no baseline row
        if base_rows:
            flagged = probe["recall"] < base_rows[0].recall - ANN_DRIFT_DROP
        else:
            flagged = probe["recall"] < ANN_DRIFT_RECALL_FLOOR
        record_ann_drift(
            spark, path, probe, int(meta.n_vectors) + n, flagged, baseline=False
        )
    return n


#: drift monitor operating point: sampled overlap@k of the frozen-
#: quantizer index against exact ranking over the SAME stored vectors.
#: The flag is RELATIVE, not absolute: write_ann_index records the
#: index's own baseline recall on a training-distribution sample (PQ/ADC
#: recall is a property of the data — near-uniform random embeddings sit
#: ~0.5@10, clustered corpora ~0.9+ — so one absolute bar fits neither),
#: and an append flags when the increment's sampled recall falls
#: ANN_DRIFT_DROP below that baseline: the frozen coarse centroids + PQ
#: codebooks no longer represent the new data, and the documented
#: response is a write_ann_index retrain-and-rebuild. The absolute floor
#: only backstops indexes written before drift tracking (no baseline
#: row).
ANN_DRIFT_DROP = 0.2
ANN_DRIFT_RECALL_FLOOR = 0.3
ANN_DRIFT_SAMPLE = 64
ANN_DRIFT_K = 10


def ann_drift_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = ANN_DRIFT_K,
    n_sample: int = ANN_DRIFT_SAMPLE,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Cheap recall estimate of a persisted ANN index for a query
    distribution: overlap@k of the index's PQ/ADC+refine answer vs EXACT
    cosine ranking over the index's own stored quantized vectors, on a
    deterministic sample of `queries` (lowest ids — reproducible, no RNG).

    This is the missing feedback loop for append_to_ann_index's frozen
    quantizers (Jégou et al. TPAMI'11 practice): appends keep byte-exact
    parity with a rebuild under the SAME quantizers, but nothing said
    whether those quantizers still fit the data. The probe costs one
    corpus scan for n_sample queries (no retraining, no re-encoding —
    ~the price of one batch search), so an append job can afford it
    every run.

    Returns {recall, n_queries, k}; the caller (append_to_ann_index)
    compares against the index's recorded baseline and flags the rebuild
    decision."""
    sample = queries.orderBy(id_col).limit(n_sample)
    approx = pq_topk_from_index(
        spark, path, sample, k=k, refine=refine, n_probe=None,
        vec_col=vec_col, id_col=id_col,
    )
    codes_df, _, _, _ = read_ann_index(spark, path)
    exact = _brute_force_topk_qc(
        codes_df.select("neighbor_id", F.col("qv").alias("qc")),
        sample,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
    )
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .count()
    )
    total = exact.count()
    recall = (hits / total) if total else 1.0
    return {
        "recall": recall,
        "n_queries": int(total / k) if k else 0,
        "k": k,
    }


def record_ann_drift(
    spark, path: str, probe: dict, n_vectors: int, flagged: bool, baseline: bool
) -> None:
    """Append one probe observation to ``<path>/drift`` — the index's
    recall history over its append lifetime (keyed by n_vectors at probe
    time, not wall clock: deterministic and resume-safe). The
    ``baseline`` row is written by write_ann_index over a
    training-distribution sample; appends are compared against it."""
    spark.createDataFrame(
        [
            (
                int(n_vectors),
                int(probe["n_queries"]),
                int(probe["k"]),
                float(probe["recall"]),
                bool(flagged),
                bool(baseline),
            )
        ],
        "n_vectors long, n_queries int, k int, recall double, "
        "flagged boolean, baseline boolean",
    ).coalesce(1).write.mode("append").parquet(f"{path}/drift")


def read_ann_drift(spark, path: str) -> DataFrame:
    """The drift history written by record_ann_drift, oldest first."""
    return spark.read.parquet(f"{path}/drift").orderBy("n_vectors")


def compact_ann_index(spark, path: str) -> int:
    """Rewrite an append-grown ANN index to minimal form WITHOUT
    re-encoding: duplicate neighbor rows (re-appended vectors) drop and
    the small files each append added per cell directory coalesce back
    into one partitioned write — codes are a pure function of (vector,
    frozen quantizers), so distinct-by-id rows ARE the minimal index.
    The companion of dedup.compact_signature_index; same rename-aside
    swap (util.staged_swap): the canonical codes path is absent only
    between two metadata renames, and a crash in the window is
    self-repaired by the next read_ann_index. Single-maintenance-job
    discipline as with any parquet rewrite. Returns the compacted
    vector count."""
    from ..util import staged_swap

    _, _, _, meta = read_ann_index(spark, path)  # validates constants
    codes = spark.read.parquet(f"{path}/codes").dropDuplicates(["neighbor_id"])
    codes.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/codes_compact"
    )
    staged_swap(spark, path, "codes")
    n_vectors = spark.read.parquet(f"{path}/codes").count()
    spark.createDataFrame(
        [
            (
                ANN_INDEX_VERSION,
                int(meta.m),
                int(meta.n_codes),
                int(meta.n_cells),
                int(meta.dim),
                ANN_QUANT_SCALE,
                meta.id_col,
                n_vectors,
            )
        ],
        "version int, m int, n_codes int, n_cells int, dim int, "
        "quant_scale int, id_col string, n_vectors long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    return n_vectors


def read_ann_index(spark, path: str):
    """(codes_df, centroids list, codebooks ndarray, meta row) from a
    write_ann_index location, after validating the meta row against this
    build's constants (mismatch raises — see write_ann_index). codes_df
    stays LAZY: nothing of the corpus is scanned until a query runs.
    A crash inside a prior compaction's swap window is self-repaired
    here (the surviving complete staging dataset is promoted back)."""
    from ..util import recover_staged_swap

    recover_staged_swap(spark, path, "codes")
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    if meta.version != ANN_INDEX_VERSION:
        raise ValueError(
            f"ANN index at {path} has version {meta.version}, this build "
            f"reads {ANN_INDEX_VERSION} — rebuild the index"
        )
    if meta.quant_scale != ANN_QUANT_SCALE:
        raise ValueError(
            f"ANN index at {path} was encoded at quant scale "
            f"{meta.quant_scale}; this build uses {ANN_QUANT_SCALE} — "
            "rankings would be silently wrong. Rebuild the index."
        )
    cents = [
        (int(r.cell), list(r.centroid))
        for r in spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    ]
    cb_rows = (
        spark.read.parquet(f"{path}/codebooks").orderBy("subspace", "code").collect()
    )
    dsub = meta.dim // meta.m
    cb = np.zeros((meta.m, meta.n_codes, dsub), dtype=np.float64)
    for r in cb_rows:
        cb[r.subspace, r.code] = r.vals
    if np.all(cb == np.rint(cb)):
        cb = cb.astype(np.int64)  # deterministic codebooks: keep int-exact ADC
    return spark.read.parquet(f"{path}/codes"), cents, cb, meta


def _ann_index_stamp(path: str):
    """Cheap change signature of a persisted index: names + mtimes of the
    top-level entries of the index dir and each artifact dir (meta /
    centroids / codebooks / codes). Every mutation path touches one of
    these levels: write/rebuild rewrites the dirs, append rewrites
    codes/_SUCCESS (and the _append_complete marker), compaction swaps the
    codes dir, staging recovery renames at top level."""
    stamp = []
    for d in (
        path,
        os.path.join(path, "meta"),
        os.path.join(path, "centroids"),
        os.path.join(path, "codebooks"),
        os.path.join(path, "codes"),
    ):
        try:
            with os.scandir(d) as it:
                stamp.append(
                    (d, tuple(sorted((e.name, e.stat().st_mtime_ns) for e in it)))
                )
        except OSError:
            stamp.append((d, None))
    return tuple(stamp)


def loaded_ann_index(spark, path: str):
    """read_ann_index memoized per (session, path) and stamped with
    _ann_index_stamp, so an append, compaction or rebuild re-reads it —
    the production probe-server shape: per-call re-reads cost the
    meta/centroids/codebooks collect jobs plus directory listings and
    footer reads across hundreds of cell directories (measured dominant
    on a 435-cell index). The memoized codes DataFrame carries its
    InMemoryFileIndex and stays LAZY and unpersisted: a persist here
    replaced the cell-partitioned parquet scan with an InMemoryRelation
    scan, losing the PartitionFilters cell pruning that is the index's
    whole scale story, and left a CacheManager entry that substituted
    STALE data into fresh reads of the path after compact_ann_index's
    out-of-band rename swap. Raises exactly like read_ann_index on
    version/scale mismatch (misses delegate to it). Callers MAY
    persist/unpersist the codes relation around a bounded drain (the
    streaming probe does); they must release it before any index
    mutation."""
    return memo.cached(
        spark, "ann_index", os.path.normpath(path),
        build=lambda: read_ann_index(spark, path),
        stamp=_ann_index_stamp(path),
    )


def pq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    refine: int = 4,
    n_probe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    per_query_cells: bool = False,
) -> DataFrame:
    """PQ/ADC top-k answered ENTIRELY from a persisted ANN index — the
    corpus is never re-encoded (the cross-job shape: the index-writer job
    runs once per corpus refresh; every query job is query-sized).

    ``n_probe=None`` scans all cells and returns bit-identical results to
    ``pq_topk`` on the live corpus (same codebooks ⇒ same ADC ranking) —
    the oracle-checkable mode. With ``n_probe=p`` each query re-ranks only
    its p nearest coarse cells; the union of probed cells becomes an
    IN-list filter on the partition column, so whole cell directories are
    pruned at planning time (PartitionFilters, plan-pinned in tests).

    ``per_query_cells=True`` (requires n_probe) additionally restricts the
    SCORING, not just the scan: each query is ADC-scored only against its
    OWN p cells' codes (standard IVF semantics) instead of the batch
    union. This is the shape whose per-batch cost is nq * p * (n/cells)
    — linear for corpus-proportional query batches — where union scoring
    is nq * |union| (quadratic once the batch unions most cells, which a
    few hundred random queries over sqrt(n) k-means cells already do).
    The result for a SINGLE query is identical to union mode (its union
    is its own cells); multi-query batches lose the accidental recall
    widening from batch-mates' cells, so this mode is the bench/production
    path while the union mode remains the oracle surface."""
    return pq_topk_from_loaded(
        loaded_ann_index(spark, path),
        queries,
        k=k,
        refine=refine,
        n_probe=n_probe,
        vec_col=vec_col,
        id_col=id_col,
        per_query_cells=per_query_cells,
    )


def pq_topk_from_loaded(
    loaded,
    queries: DataFrame,
    k: int = 10,
    refine: int = 4,
    n_probe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    per_query_cells: bool = False,
) -> DataFrame:
    """pq_topk_from_index against an ALREADY-LOADED index tuple (a
    read_ann_index result, optionally with its codes relation persisted).
    This is the repeated-caller shape: a streaming probe answers every
    micro-batch from ONE index, and re-reading the cell-partitioned
    parquet per batch (directory listing + footer reads across hundreds
    of cell directories) costs more than the scoring once cells are
    production-counted — measured on a 435-cell k-means index over a
    32-batch drain, where the per-batch re-read dominated BOTH probe
    arms (~14 s/batch fixed). Callers own the persist/unpersist
    lifecycle of loaded[0] (the codes relation)."""
    codes_df, cents, cb, meta = loaded
    if meta.id_col != id_col:
        raise ValueError(
            f"ANN index was built over id column {meta.id_col!r}, "
            f"queried with {id_col!r}"
        )
    if per_query_cells and n_probe is None:
        raise ValueError("per_query_cells requires n_probe")
    probed_cells = None
    if n_probe is not None:
        n_probe = min(n_probe, len(cents))
        ranked = _ranked_cells_udf(cents)
        # queries are small by definition: the probed-cell union is bounded
        # by nq * n_probe
        qcell_rows = (
            queries.select(
                F.col(id_col).alias("query_id"), quantized_vec(vec_col).alias("qq")
            )
            .withColumn("cells", F.slice(ranked(F.col("qq")), 1, n_probe))
            .select("query_id", "cells")
            .collect()
        )
        if per_query_cells:
            probed_cells = {
                int(r.query_id): [int(c) for c in r.cells] for r in qcell_rows
            }
        probed = sorted({int(c) for r in qcell_rows for c in r.cells})
        codes_df = codes_df.where(F.col("cell").isin(probed))
    code_cols = ["neighbor_id", "codes", "cnorm_sq"] + (
        ["cell"] if probed_cells is not None else []
    )
    codes = codes_df.select(*code_cols)
    vectors = codes_df.select("neighbor_id", F.col("qv").alias("qc"))
    return _pq_topk_core(
        codes,
        vectors,
        queries,
        cb,
        k=k,
        refine=refine,
        vec_col=vec_col,
        id_col=id_col,
        probed_cells=probed_cells,
    )


def _signature(qv: Column, planes: list[list[int]] | None = None) -> Column:
    """Random-hyperplane signature of a quantized vector (one bit per plane)."""
    planes = planes if planes is not None else HYPERPLANES
    sig = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        arr = F.array(*[F.lit(v) for v in plane])
        dot = F.aggregate(
            F.zip_with(qv, arr, lambda x, p: x * p),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.shiftleft(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), j)
    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    probes: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = None,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH bucket join + exact re-rank.

    probes=0 searches only the query's own bucket; probes=1 additionally
    searches the n_planes hamming-1 buckets (recall up, cost x(n+1) — still
    linear); probes=2 adds the C(n_planes, 2) hamming-2 buckets. `n_planes` defaults to the baked 6-plane/64-bucket setting (the
    oracle-checked test-SF configuration); pass
    ``auto_lsh_planes(corpus_size)`` to size buckets to the data instead.
    """
    from .dedup import qdot

    if n_planes is None:
        planes = HYPERPLANES
    else:
        planes = hyperplanes_for(n_planes)
    n_pl = len(planes)

    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), quantized_vec(vec_col).alias("qc"))
        .withColumn("cnorm", F.sqrt(qdot(F.col("qc"), F.col("qc")).cast("double")))
        .where(F.col("cnorm") > 0)  # zero-norm: cosine undefined; ANSI div guard
        .withColumn("bucket", _signature(F.col("qc"), planes))
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), quantized_vec(vec_col).alias("qq"))
        .withColumn("qnorm", F.sqrt(qdot(F.col("qq"), F.col("qq")).cast("double")))
        .where(F.col("qnorm") > 0)  # zero-norm: cosine undefined; ANSI div guard
        .withColumn("sig", _signature(F.col("qq"), planes))
    )

    # probes = max hamming radius of probed buckets: 0 -> own bucket only,
    # 1 -> + all single-bit flips, 2 -> + all two-bit flips (C(n,2)); it
    # previously capped silently at radius 1, making probes=2,3 a no-op lie
    if probes > 2:
        raise ValueError(
            f"lsh_topk supports probe radius 0-2, got {probes} "
            f"(C(n_planes, r) buckets per query grows combinatorially)"
        )
    flips = [F.col("sig")]
    if probes >= 1:
        flips += [F.col("sig").bitwiseXOR(F.lit(1 << j)) for j in range(n_pl)]
    if probes >= 2:
        flips += [
            F.col("sig").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_pl)
            for j in range(i + 1, n_pl)
        ]
    q = q.withColumn("bucket", F.explode(F.array(*flips)))

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(q), on=["bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qq", "qc", "qnorm", "cnorm")
        .dropDuplicates(["query_id", "neighbor_id"])  # multi-probe may re-find
        .withColumn(
            "cosine",
            F.round(
                qdot(F.col("qq"), F.col("qc")).cast("double") / (F.col("qnorm") * F.col("cnorm")), 6
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


#: sub-centroids per cell per level: bounds the cogroup right side AND
#: each reassignment matmul's M to <= 4096 x dim; a cell too large for
#: one capped level (> s_max * 4096 members) splits across levels —
#: max_depth=3 covers s_max * 4096^3 members per single cell. Below the
#: cap the split is IDENTICAL to the uncapped formula (m = ceil(n/s_max)
#: <= 4096 whenever n <= s_max * 4096), which is every measured fixture.
_SUBDIV_M_CAP = 4096
#: member rows per cogroup chunk: the pandas group a reassignment task
#: materializes is <= this many rows (x dim int64), so a point-mass cell
#: becomes many bounded tasks instead of one OOM-sized pandas frame
_SUBDIV_CHUNK_ROWS = 65536
#: auto-switch point between the two per-level reassignment strategies:
#: up to this many sub-centroid picks the driver collect + broadcast
#: dict is both safe (~0.5 GB of qv arrays at dim 64) and measurably
#: cheaper (200k-row parity run: 53.7 s driver vs 70.5 s executor — the
#: cogroup pays two extra shuffles of the over-budget subset); above it
#: the fully-distributed path is the only one that survives (the collect
#: grows linearly with corpus/s_max — ~10 GB at 1e10 reps, s_max=512)
_SUBDIV_DRIVER_PICK_LIMIT = 1_000_000


def _subdivide_cells(
    assigned: DataFrame,
    s_max: int,
    start_id: int,
    max_depth: int = 3,
    mode: str = "auto",
) -> DataFrame:
    """Recursive sub-quantization of over-budget cells (the pair-budget
    arm's blocking lever). Any cell holding more than ``s_max``
    representatives is split by a second-level deterministic quantizer:
    a STRIDED pick of m = min(ceil(n_c / s_max), _SUBDIV_M_CAP) members
    — every ceil(n_c/m)-th member in vid order — becomes the cell's
    sub-centroids (striding, not smallest-vid: consecutive vids are
    often one semantic clump, and m adjacent-clump centroids split that
    clump across sub-cells on float-noise ties — measured 0.92 -> 0.77
    planted full-merge at 2M with the smallest-vid pick). Every member
    reassigns to its nearest sub-centroid (max quantized cosine,
    smallest sub-id tie — the same rule as _ranked_cells_udf), and the
    loop recurses into any sub-cell still over budget, up to
    ``max_depth`` levels. A pathological point-mass cell that refuses
    to split (every member nearest the same sub-centroid) is left over
    budget when progress stops or depth runs out — the honest envelope,
    not an infinite loop.

    Sub-cell ids are allocated sequentially from ``start_id`` in
    (cell asc, pick-vid asc) order, cells with < 2 picks consuming no
    ids — both strategies below produce the SAME ids and assignments
    (pinned byte-identical by test_subdivide_executor_matches_driver_reference
    and the 2M campaign row in BASELINE.md).

    Per-level strategy (VERDICT r12 next #1), picked by the estimated
    pick count against _SUBDIV_DRIVER_PICK_LIMIT (``mode`` forces
    'driver' / 'executor' for tests and campaigns):

    - DRIVER (small levels — the common regime): collect the picks,
      broadcast a per-cell (M, inv_norm, ids) dict, one mapInPandas
      pass over the over-budget rows in place. No extra shuffle;
      driver heap pays ~pick_count x dim x 8 bytes.
    - EXECUTOR (big levels — the 100-TB regime): nothing reaches the
      driver. The strided pick materializes on executors; ids come from
      a per-cell prefix-sum offset window (the one deliberately
      single-partition step — it sorts (cell, count) rows ONLY, 16
      bytes/row, <= corpus/s_max rows: ~320 MB through one spillable
      executor sort at 1e10 reps/s_max=512, vs ~10 GB of qv arrays in
      driver heap the collect would cost); reassignment is a chunked
      COGROUP on (cell, chunk) — each cell's sub-centroid rows joined
      map-side, member groups bounded at _SUBDIV_CHUNK_ROWS rows so a
      point-mass cell becomes many bounded tasks, and one int64 BLAS
      matmul per group picks the argmax.

    Remaining per-cell ceiling, named: the strided pick's row_number
    window sorts each over-budget cell in one task (external sort —
    spills, doesn't OOM); a range-partitioned pre-count would remove
    even that if a single cell ever exceeds one task's spill budget.

    Per-level cost discipline: only the OVER-BUDGET cells' rows pass
    through the reassignment kernel and only that subset is eagerly
    checkpointed — in-budget rows ride along lazily, so a level whose
    over-budget tail is 5% of the corpus pays ~5% of a full pass, not
    a corpus-wide materialization."""
    if mode not in ("auto", "driver", "executor"):
        raise ValueError(f"mode must be auto|driver|executor, got {mode!r}")
    out_schema = assigned.schema
    next_id = int(start_id)
    for _ in range(max_depth):
        over_df = (
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > s_max)
            .localCheckpoint(eager=True)  # cell-count-sized; consumed 3x
        )
        if over_df.isEmpty():
            break
        m_of_n = F.least(
            F.ceil(F.lit(1.0) * F.col("__n") / F.lit(s_max)).cast("int"),
            F.lit(_SUBDIV_M_CAP),
        )
        if mode == "auto":
            est = int(over_df.agg(F.sum(m_of_n)).collect()[0][0] or 0)
            level = "driver" if est <= _SUBDIV_DRIVER_PICK_LIMIT else "executor"
        else:
            level = mode
        step = _subdivide_level_driver if level == "driver" else _subdivide_level_exec
        assigned, next_id, progressed = step(
            assigned, over_df, s_max, next_id, out_schema
        )
        if not progressed:
            break
    return assigned


def _level_common(assigned: DataFrame, over_df: DataFrame, s_max: int):
    """Shared per-level pieces: the over-budget row subset (inner join
    carries __n — one lineage, no ambiguous re-joins) and the strided
    pick pipeline, both lazy."""
    over_rows = assigned.join(over_df, "cell")
    rk = Window.partitionBy("cell").orderBy("vid")
    m_expr = F.least(
        F.ceil(F.lit(1.0) * F.col("__n") / F.lit(s_max)).cast("int"),
        F.lit(_SUBDIV_M_CAP),
    )
    stride_expr = F.ceil(F.col("__n") / m_expr).cast("int")
    picks = (
        over_rows.withColumn("__rk", F.row_number().over(rk))
        .where(F.pmod(F.col("__rk") - 1, stride_expr) == 0)
        .select("cell", "vid", "qv", "__n")
    )
    return over_rows, picks


def _anti_union(
    assigned: DataFrame, over_df: DataFrame, reassigned: DataFrame
) -> DataFrame:
    """In-budget rows ride a lazy anti-join; the reassigned subset joins
    back by union (aliased key: both sides share the `assigned` lineage
    and identical attribute ids trip the ambiguous-self-join analyzer)."""
    anti_key = over_df.select(F.col("cell").alias("__acell"))
    return assigned.join(
        anti_key, assigned["cell"] == anti_key["__acell"], "left_anti"
    ).unionByName(reassigned)


def _subdivide_level_driver(
    assigned: DataFrame,
    over_df: DataFrame,
    s_max: int,
    next_id: int,
    out_schema,
):
    """One sub-quantization level, driver-collect strategy: picks come
    to the driver (gated small by _SUBDIV_DRIVER_PICK_LIMIT), the
    per-cell (M, inv_norm, ids) dict broadcasts, and one mapInPandas
    pass reassigns the over-budget rows WITHOUT shuffling them."""
    import numpy as np

    spark = assigned.sparkSession
    over_rows, picks = _level_common(assigned, over_df, s_max)
    subs = picks.select("cell", "vid", "qv").collect()
    grouped: dict[int, list] = {}
    for r in subs:
        grouped.setdefault(int(r.cell), []).append((int(r.vid), r.qv))
    sub_map: dict[int, tuple] = {}
    progressed = False
    for cell_val in sorted(grouped):
        rows = sorted(grouped[cell_val])  # vid ascending = stable ids
        if len(rows) < 2:
            continue  # nothing to split against — no progress possible
        M = np.asarray([qv for _, qv in rows], dtype=np.int64)
        ids = np.arange(next_id, next_id + len(rows), dtype=np.int64)
        next_id += len(rows)
        inv_norm = 1.0 / np.sqrt((M * M).sum(axis=1).astype(np.float64))
        sub_map[cell_val] = (M, inv_norm, ids)
        progressed = True
    if not progressed:
        return assigned, next_id, False
    bc = spark.sparkContext.broadcast(sub_map)

    def reassign(batches):
        for pdf in batches:
            pdf = pdf.drop(columns=["__n"])
            cells = pdf["cell"].to_numpy()
            for cell_val in np.unique(cells):
                sub = bc.value.get(int(cell_val))
                if sub is None:
                    continue  # sub-split skipped (single candidate)
                M, inv_norm, ids = sub
                idx = np.nonzero(cells == cell_val)[0]
                Q = np.asarray(
                    [np.asarray(v, dtype=np.int64) for v in pdf["qv"].iloc[idx]]
                )
                # argmax of cos = argmax of dot * inv|c| (|q| is a
                # positive per-row constant); first-max tie = smallest
                # sub id (ids ascend with vid order)
                best = ((Q @ M.T) * inv_norm[None, :]).argmax(axis=1)
                cells[idx] = ids[best]
            pdf["cell"] = cells
            yield pdf

    # only the reassigned subset materializes eagerly (the next level's
    # size scan must see its new labels without replanning the pandas
    # stage); in-budget rows stay a lazy anti-join — at most max_depth
    # anti-joins stack on the final plan
    reassigned = over_rows.mapInPandas(reassign, out_schema).localCheckpoint(
        eager=True
    )
    return _anti_union(assigned, over_df, reassigned), next_id, True


def _subdivide_level_exec(
    assigned: DataFrame,
    over_df: DataFrame,
    s_max: int,
    next_id: int,
    out_schema,
):
    """One sub-quantization level, fully executor-side: no driver
    collect, no sc.broadcast, no unbounded pandas group — see
    _subdivide_cells' strategy docstring for the shapes."""
    over_rows, picks = _level_common(assigned, over_df, s_max)
    picks = picks.localCheckpoint(eager=True)  # pick-sized, on executors
    # eligible cells: >= 2 picks (same skip-without-consuming-ids
    # contract as the driver strategy; unreachable for s_max >= 2 but
    # kept for the id-allocation pin)
    counts = (
        picks.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("__m"))
        .where(F.col("__m") >= 2)
        .localCheckpoint(eager=True)  # tiny; consumed 3x
    )
    if counts.isEmpty():
        return assigned, next_id, False
    total_new = int(counts.agg(F.sum("__m")).collect()[0][0])
    off_w = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        F.col("cell").alias("__ocell"),
        F.coalesce(F.sum("__m").over(off_w), F.lit(0)).alias("__off"),
    )
    pk = Window.partitionBy("cell").orderBy("vid")
    subs_ids = (
        picks.join(offsets, picks["cell"] == offsets["__ocell"])  # inner:
        .drop("__ocell")  # drops ineligible cells
        .withColumn("__pk", F.row_number().over(pk))
        .select(
            "cell",
            (F.lit(next_id) + F.col("__off") + F.col("__pk") - 1).alias("sub_id"),
            "qv",
            "__n",
        )
    )

    n_chunks = F.greatest(
        F.ceil(F.col("__n") / F.lit(_SUBDIV_CHUNK_ROWS)).cast("int"), F.lit(1)
    )
    left = over_rows.withColumn(
        "__chunk", F.pmod(F.col("vid"), n_chunks).cast("int")
    ).drop("__n")
    # fresh attribute names on the centroid side: both cogroup inputs
    # descend from `assigned`, and shared attribute ids trip the
    # ambiguous-self-join analyzer (cogroup key names need not match)
    right = subs_ids.withColumn(
        "__chunk", F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1)))
    ).select(
        F.col("cell").alias("rcell"),
        F.col("__chunk").alias("rchunk"),
        "sub_id",
        F.col("qv").alias("rqv"),
    )

    def reassign(lpdf, rpdf):
        lpdf = lpdf.drop(columns=["__chunk"])
        # empty member chunk (a vid residue no member hits) or an
        # ineligible cell (< 2 picks): pass through unchanged
        if len(lpdf) == 0 or len(rpdf) < 2:
            return lpdf
        r = rpdf.sort_values("sub_id")
        M = np.asarray(
            [np.asarray(v, dtype=np.int64) for v in r["rqv"]], dtype=np.int64
        )
        ids = r["sub_id"].to_numpy(dtype=np.int64)
        inv_norm = 1.0 / np.sqrt((M * M).sum(axis=1).astype(np.float64))
        Q = np.asarray(
            [np.asarray(v, dtype=np.int64) for v in lpdf["qv"]], dtype=np.int64
        )
        # argmax of cos = argmax of dot * inv|c| (|q| is a positive
        # per-row constant); first-max tie = smallest sub id (ids ascend
        # with vid order) — bit-identical to the driver strategy kernel
        best = ((Q @ M.T) * inv_norm[None, :]).argmax(axis=1)
        lpdf = lpdf.copy()
        lpdf["cell"] = ids[best]
        return lpdf

    reassigned = (
        left.groupby("cell", "__chunk")
        .cogroup(right.groupby("rcell", "rchunk"))
        .applyInPandas(reassign, out_schema)
        .localCheckpoint(eager=True)
    )
    return _anti_union(assigned, over_df, reassigned), next_id + total_new, True



def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_cells: int | None = N_CENTROIDS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list]] | None = None,
    max_cell_pairs: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication" —
    public paper): cluster the embedding space coarsely, compare pairs only
    WITHIN a cluster, and keep one representative per within-cell
    near-duplicate group.

    Exactly the paper's recipe re-expressed as DataFrames: a k-means (or
    deterministic) coarse quantizer plays the clusterer, within-cell exact
    quantized-cosine >= ``threshold`` defines duplication, and the kept
    representative is the component minimum id (the paper keeps one random
    member; min-id is the deterministic choice). The blocking approximation
    is the documented contract: cross-cell near-dups are NOT compared — the
    price that turns the O(n^2) all-pairs scan (embedding_cosine_pairs, the
    exact baseline) into sum-over-cells (n/c)^2*c ~= n^2/c work; with
    sqrt(n) trained cells that is n^1.5, the SemDeDup scale shape.

    Quantizer modes mirror ivf_topk: deterministic smallest-id centroids by
    default (reproducible, oracle-checkable), ``centroids=
    train_ivf_centroids(...)`` for real cell geometry, ``n_cells=None`` for
    sqrt(n) auto-sizing.

    ``max_cell_pairs`` (opt-in) bounds the within-cell quadratic term: any
    cell whose pair count would exceed the budget is recursively
    sub-quantized (_subdivide_cells) until cells hold <= sqrt(2*budget)
    representatives — total pair work then grows ~linearly in n instead of
    the measured alpha-1.49 (BASELINE.md round-11 perturbed-geometry
    decade). More cells = more blocking: the recall price is measured by
    tools/semdedup_bench.py's full-merge-rate column, and the default
    (None) keeps the paper-exact contract and the oracle surface intact.

    Returns one row per nonzero-norm vector:
    (vec_id, cell, cluster_id, is_kept) — cluster_id is the min id of the
    vector's within-cell near-dup component (own id when unique), is_kept
    marks the representative. Downstream: ``.where("is_kept")`` is the
    deduplicated corpus. Zero-norm vectors are excluded (cosine undefined —
    same ANSI-division guard as every cosine path here).

    Scale shape: cell assignment is a narrow Arrow-vectorized map (one
    int64 matmul per batch, no shuffle); the pair stage shuffles on
    (cell, block) only and scores each within-cell tile as ONE int64 BLAS
    matmul inside mapInPandas — the same tile discipline (and the same
    bit-exactness argument: exact integer dots, one IEEE division, half-up
    round applied JVM-side) as dedup.embedding_cosine_pairs, except tiles
    never cross cells, which is where the n^2 -> n^2/c saving lives. A
    per-pair expression join was measured >17x slower at 200k vectors /
    16 cells: the kernel verified 11.5M pairs in 34 s where the
    interpreted per-pair fold had not finished at 590 s (sf10 A/B,
    BASELINE.md round-10 second session). Component labels come from
    dedup.connected_components: a pair graph within its finish bound (2M
    edges) is labelled on the driver in one step, a larger one first runs
    large-star/small-star rounds."""
    import numpy as np
    import pandas as pd

    from .dedup import connected_components, qdot

    if threshold > 1.0:
        # no cosine rounds above 1.0, so nothing would ever pair — and the
        # exact-dup collapse below would wrongly merge identical vectors.
        # Validated before any Spark job so a misconfigured call fails fast.
        raise ValueError(f"semantic_dedup threshold must be <= 1.0, got {threshold}")
    c = corpus.select(F.col(id_col).alias("vid"), quantized_vec(vec_col).alias("qv"))
    base = c.withColumn(
        "norm", F.sqrt(qdot(F.col("qv"), F.col("qv")).cast("double"))
    ).where(F.col("norm") > 0)

    def assign() -> tuple:
        if centroids is not None:
            # explicit centroids carry their own cell count — no auto-sizing job
            cents = [(cid, [x * 1000.0 for x in v]) for cid, v in centroids]
        else:
            k = n_cells if n_cells is not None else auto_ivf_params(corpus.count())[0]
            cents = [(r.vid, r.qv) for r in c.orderBy("vid").limit(k).collect()]
        if not cents:
            return None, cents
        # EXACT-DUPLICATE COLLAPSE (the dup-mass lever containment_lsh uses):
        # identical quantized vectors have cosine exactly 1.0 after the 6-dp
        # round, so for any threshold <= 1 every member of a distinct-qv group
        # lands in its representative's component unconditionally. Pair + CC
        # work therefore runs over ONE min-id representative per distinct qv
        # and membership re-expands afterwards — output-identical by
        # construction, and on dup-heavy corpora it removes the quadratic
        # in-clump pair mass (sf100 fixture: 2M vectors -> ~14k reps; the
        # uncollapsed pair stage was ~1e9 rows and took >30 min).
        reps = base.groupBy("qv").agg(
            F.min("vid").alias("vid"), F.first("norm").alias("norm")
        )
        # materialize the assignment ONCE for EVERY arm (optimization r14;
        # the budget arm has done this since r12 for its per-level scans —
        # its measured 419-vs-128 s recompute gap, noted below): without it
        # the default arm's THREE downstream consumers (the per-cell size
        # agg, the tile builder, and the final rep_out join) plus the member
        # map each re-executed the corpus scan + quantize + reps groupBy (a
        # wide shuffle keyed on the 64-dim array) + the cell-assignment
        # Arrow UDF. The checkpoint is reps-sized (one row per distinct
        # quantized vector).
        assigned = reps.withColumn(
            "cell", _ranked_cells_udf(cents)(F.col("qv"))[0]
        ).localCheckpoint(eager=True)
        return assigned, cents

    # the assignment and its centroids are memoized per (corpus, quantizer):
    # the session memo owns the checkpoint, a repeat call reads it, and
    # memo.clear() releases its blocks
    assigned, cents = memo.cached(
        corpus, "semantic_assigned", vec_col, id_col, n_cells,
        None if centroids is None else tuple((cid, tuple(v)) for cid, v in centroids),
        build=assign,
    )
    if assigned is None:
        return base.select(
            F.col("vid").alias(id_col),
            F.lit(None).cast("long").alias("cell"),
            F.col("vid").alias("cluster_id"),
            F.lit(True).alias("is_kept"),
        )
    # members rides the checkpointed relation too (assigned carries
    # exactly reps' rows, plus cell): the rep side of the qv join no
    # longer re-runs the groupBy. Built from the PRE-subdivision frame —
    # membership is cell-independent.
    members = base.select("vid", "qv").join(
        assigned.select(F.col("vid").alias("rep"), "qv"), on="qv"
    ).select("vid", "rep")
    if max_cell_pairs is not None:
        # bound the alpha-1.49 within-cell pair term (VERDICT r11 next
        # #4): cap any cell's pair work at ~max_cell_pairs by recursive
        # sub-quantization — n_c(n_c-1)/2 <= budget  <=>  n_c <= s_max =
        # sqrt(2*budget). Opt-in: the default (None) keeps the paper's
        # exact-within-cell contract and the oracle-checked surface
        # byte-identical; production/bench arms enable it and the bench
        # prices the extra blocking via the full-merge-rate column.
        # (Per-level recompute cost without the eager checkpoint above
        # was measured as the whole 500k overhead gap: 419 s vs 128 s
        # baseline; the pair-work cut itself is real.)
        s_max = max(int((2 * max_cell_pairs) ** 0.5), 64)
        assigned = _subdivide_cells(
            assigned, s_max, start_id=max(cid for cid, _ in cents) + 1
        )

    # blocks keep a tile's flattened int64 payload ~4k vectors PER CELL,
    # from each cell's ACTUAL size: sizing off the average cell OOM'd the
    # sf100 decade run (trained cells on clumped data are skewed — a hot
    # cell's collect_list row blew the aggregation buffer), so the block
    # count is joined in per cell (broadcast: one tiny row per cell).
    # Balanced sqrt(n) cells still get 1 block — tiles == cells.
    sizes = assigned.groupBy("cell").agg(
        F.ceil(F.count(F.lit(1)) / 4096).cast("int").alias("__nb")
    )
    g = (
        assigned.join(F.broadcast(sizes), on="cell")
        .withColumn("blk", F.pmod(F.col("vid"), F.greatest(F.col("__nb"), F.lit(1))).cast("int"))
        .drop("__nb")
        .groupBy("cell", "blk")
        .agg(F.sort_array(F.collect_list(F.struct(F.col("vid"), F.col("qv")))).alias("vs"))
        .select(
            "cell",
            "blk",
            F.transform("vs", lambda x: x["vid"]).alias("ids"),
            F.flatten(F.transform("vs", lambda x: x["qv"])).alias("flat"),
        )
    )
    a = g.select(
        F.col("cell"), F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"),
        F.col("flat").alias("flat_a"),
    )
    b = g.select(
        F.col("cell"), F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"),
        F.col("flat").alias("flat_b"),
    )
    tiles = a.join(b, on="cell").where(F.col("blk_a") <= F.col("blk_b"))
    lo = threshold - 1e-6  # keep anything that could half-up-round to >= t

    def score_tiles(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                ia = np.asarray(r["ids_a"], dtype=np.int64)
                ib = np.asarray(r["ids_b"], dtype=np.int64)
                if not len(ia) or not len(ib):
                    continue
                A = np.asarray(r["flat_a"], dtype=np.int64).reshape(len(ia), -1)
                B = np.asarray(r["flat_b"], dtype=np.int64).reshape(len(ib), -1)
                na = np.sqrt((A * A).sum(axis=1).astype(np.float64))
                nb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
                cos = (A @ B.T).astype(np.float64) / (na[:, None] * nb[None, :])
                # diagonal tile sees each unordered pair twice: keep the
                # strict upper triangle; off-diagonal tiles see it once in
                # either orientation (cosine is symmetric)
                if r["blk_a"] == r["blk_b"]:
                    keep = (cos >= lo) & (ia[:, None] < ib[None, :])
                else:
                    keep = (cos >= lo) & (ia[:, None] != ib[None, :])
                i, j = np.nonzero(keep)
                if len(i):
                    va, vb = ia[i], ib[j]
                    yield pd.DataFrame(
                        {
                            "va": np.minimum(va, vb),
                            "vb": np.maximum(va, vb),
                            "cosine": cos[i, j],
                        }
                    )

    pairs = (
        tiles.mapInPandas(score_tiles, "va long, vb long, cosine double")
        .where(F.round("cosine", 6) >= threshold)
        .select("va", "vb")
    )
    clusters = connected_components(pairs)
    # re-expand: a member inherits its representative's cell and component
    # (the rep IS the group minimum, so the component minimum over reps is
    # the component minimum over all members)
    rep_out = assigned.join(
        clusters.withColumnRenamed("node", "vid"), on="vid", how="left"
    ).select(
        F.col("vid").alias("rep"),
        F.col("cell").cast("long").alias("cell"),
        F.coalesce(F.col("cluster_id"), F.col("vid")).alias("cluster_id"),
    )
    return (
        members.join(rep_out, on="rep")
        .select(
            F.col("vid").alias(id_col),
            "cell",
            "cluster_id",
            (F.col("cluster_id") == F.col("vid")).alias("is_kept"),
        )
        .orderBy(id_col)
    )
