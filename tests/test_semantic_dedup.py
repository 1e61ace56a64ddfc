"""semantic_dedup (SemDeDup): within-cell dedup semantics, the documented
cross-cell blocking approximation, quantizer modes, and edge cases."""

from mover_spark import memo
from mover_spark.operators.similarity import semantic_dedup


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_identical_vectors_dedup_to_min_id(spark):
    v = [1.0, 2.0, 3.0, 4.0]
    other = [4.0, -3.0, 2.0, -1.0]  # orthogonal to v
    df = _emb(spark, [(0, v), (1, other), (5, list(v)), (9, list(v))])
    out = {r.vec_id: r for r in semantic_dedup(df, threshold=0.9, n_cells=2).collect()}
    assert out[0].is_kept and out[0].cluster_id == 0
    assert not out[5].is_kept and out[5].cluster_id == 0
    assert not out[9].is_kept and out[9].cluster_id == 0
    assert out[1].is_kept and out[1].cluster_id == 1
    kept = [r for r in out.values() if r.is_kept]
    assert len(kept) == 2


def test_transitive_chain_single_cluster(spark):
    # a~b and b~c at the threshold, all in one cell: one component, min id kept
    a = [1.0, 0.0, 0.0, 0.0]
    b = [1.0, 0.3, 0.0, 0.0]
    c = [1.0, 0.6, 0.0, 0.0]
    df = _emb(spark, [(3, a), (4, b), (5, c)])
    out = {r.vec_id: r for r in semantic_dedup(df, threshold=0.9, n_cells=1).collect()}
    assert [out[i].cluster_id for i in (3, 4, 5)] == [3, 3, 3]
    assert [out[i].is_kept for i in (3, 4, 5)] == [True, False, False]


def test_cross_cell_near_dups_are_not_compared(spark):
    """The SemDeDup blocking contract: a near-dup pair split across two
    cells is NOT removed — the documented price of n^2 -> n^2/c work."""
    e0 = [1.0, 0.0, 0.0, 0.0]
    e1 = [0.0, 1.0, 0.0, 0.0]
    va = [1.0, 0.8, 0.0, 0.0]  # nearest centroid e0
    vb = [0.8, 1.0, 0.0, 0.0]  # nearest centroid e1; cos(va, vb) ~ 0.976
    df = _emb(spark, [(0, e0), (1, e1), (10, va), (11, vb)])
    out = {r.vec_id: r for r in semantic_dedup(df, threshold=0.9, n_cells=2).collect()}
    assert out[10].cell != out[11].cell
    assert out[10].is_kept and out[11].is_kept  # both survive: never compared
    # sanity: the same pair in ONE cell would have been collapsed
    one_cell = {
        r.vec_id: r
        for r in semantic_dedup(
            _emb(spark, [(10, va), (11, vb)]), threshold=0.9, n_cells=1
        ).collect()
    }
    assert one_cell[10].is_kept and not one_cell[11].is_kept


def test_zero_norm_vectors_excluded(spark):
    df = _emb(spark, [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0])])
    rows = semantic_dedup(df, threshold=0.9, n_cells=1).collect()
    assert {r.vec_id for r in rows} == {0, 2}
    out = {r.vec_id: r for r in rows}
    assert out[0].is_kept and not out[2].is_kept


def test_empty_corpus(spark):
    df = _emb(spark, [])
    assert semantic_dedup(df, n_cells=4).count() == 0
    assert semantic_dedup(df, n_cells=4).columns == [
        "vec_id",
        "cell",
        "cluster_id",
        "is_kept",
    ]


def test_trained_centroids_mode(spark):
    """centroids= overrides the deterministic quantizer (raw embedding
    space, scaled internally) — assignment must follow the provided cells."""
    e0 = [1.0, 0.0, 0.0, 0.0]
    e1 = [0.0, 1.0, 0.0, 0.0]
    df = _emb(
        spark,
        [(7, [2.0, 0.1, 0.0, 0.0]), (8, [0.1, 2.0, 0.0, 0.0]), (9, [2.0, 0.1, 0.0, 0.0])],
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            df, threshold=0.95, centroids=[(0, e0), (1, e1)]
        ).collect()
    }
    assert out[7].cell == 0 and out[8].cell == 1 and out[9].cell == 0
    assert out[7].is_kept and not out[9].is_kept and out[8].is_kept


def test_planted_cluster_recall_with_trained_cells(spark):
    """The SemDeDup operating regime: TRUE near-dups (jittered replicas,
    cosine ~1) with trained cells — within-cell blocking must recover
    nearly all replica pairs. This is the recall contract the paper
    claims; the low-threshold near-random case (sf0.1 fixture at t=0.4,
    ~0.2 in-cell recall) is documented in BASELINE.md as out of scope."""
    import math

    from mover_spark.operators.similarity import train_ivf_centroids

    dim = 8
    rows = []
    # 12 well-separated base directions, 6 jittered replicas each
    for b in range(12):
        base = [math.cos(0.5 * b + 0.1 * d) for d in range(dim)]
        for r in range(6):
            jit = [v + 0.01 * ((b * 7 + r * 3 + d) % 5 - 2) for d, v in enumerate(base)]
            rows.append((b * 100 + r, jit))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_ivf_centroids(df, 12)
    out = semantic_dedup(df, threshold=0.95, centroids=cents)
    kept = [r.vec_id for r in out.collect() if r.is_kept]
    # every replica group should collapse to (about) one representative:
    # allow at most 2 survivors per group for cell-boundary stragglers
    assert len(kept) <= 24, kept
    # and distinct base groups must never merge (they are far apart)
    assert len({k // 100 for k in kept}) == 12


def test_threshold_validation_precedes_any_job(spark):
    """A >1.0 threshold must fail fast — before the centroid collect/count
    jobs (ADVICE round 10). An unresolvable column proves no job ran: if
    semantic_dedup triggered Spark work first, the error would be Spark's
    analysis/IndexError, not our ValueError."""
    import pytest

    bogus = spark.range(1).selectExpr("id AS vec_id", "array(id) AS embedding")
    with pytest.raises(ValueError, match="threshold must be <= 1.0"):
        semantic_dedup(bogus, threshold=1.5, n_cells=None)


def test_explicit_centroids_skip_auto_sizing_count(spark, monkeypatch):
    """centroids= with n_cells=None must NOT run the corpus.count() auto-
    sizing path (ADVICE round 10): auto_ivf_params raising proves it is
    never reached when explicit centroids are supplied."""
    from mover_spark.operators import similarity as sim

    def _boom(n):  # pragma: no cover - called only on regression
        raise AssertionError("auto_ivf_params must not run with explicit centroids")

    monkeypatch.setattr(sim, "auto_ivf_params", _boom)
    df = _emb(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0])])
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    plan = sim.semantic_dedup(df, threshold=0.9, n_cells=None, centroids=cents)
    out = {r.vec_id: r for r in plan.collect()}
    assert out[0].is_kept and not out[2].is_kept and out[2].cluster_id == 0


def test_perturbed_cluster_geometry_recall(spark):
    """Round-11 realistic geometry: perturbed clusters (every vector
    distinct — the exact-dup collapse shrinks nothing) must still merge
    within-cluster and never across. Members sit at cosine ~0.99+ to
    their center; cross-cluster cosine is far below threshold. Explicit
    centroids at the true centers keep blocking recall out of the
    equation — this pins the PAIR/CC semantics on distinct-vector input."""
    import random

    rng = random.Random(42)
    dim, members = 8, 6
    centers = []
    # near-orthogonal centers: one dominant axis each plus small noise
    for c in range(4):
        v = [0.05 * rng.uniform(-1, 1) for _ in range(dim)]
        v[2 * c] = 1.0
        centers.append(v)
    rows = []
    for c, center in enumerate(centers):
        for m in range(members):
            rows.append(
                (
                    c * members + m,
                    [x + 0.02 * rng.uniform(-1, 1) for x in center],
                )
            )
    df = _emb(spark, rows)
    cents = [(i, c) for i, c in enumerate(centers)]
    out = semantic_dedup(df, threshold=0.95, centroids=cents).collect()
    assert len(out) == len(rows)
    by_planted = {}
    for r in out:
        by_planted.setdefault(r.vec_id // members, set()).add(r.cluster_id)
    # every planted cluster collapses to exactly one component...
    assert all(len(s) == 1 for s in by_planted.values()), by_planted
    # ...and no two planted clusters share a component
    all_comps = [next(iter(s)) for s in by_planted.values()]
    assert len(set(all_comps)) == len(all_comps)
    # one representative kept per planted cluster
    assert sum(1 for r in out if r.is_kept) == len(centers)


def test_max_cell_pairs_subdivides_and_keeps_tight_clusters(spark):
    """Round-12 sub-blocking (max_cell_pairs): with everything assigned to
    ONE top-level cell and a pair budget forcing s_max = 64, the
    over-budget cell must be recursively sub-quantized — and the planted
    tight clusters (members at cosine ~0.999 to each other) must still
    merge, because nearest-sub-centroid assignment keeps a tight clump
    together (its sub-centroid is one of its own members or a far one
    wins them all). Also pins: output is deterministic across runs, and
    every vector still appears exactly once."""
    import random

    from mover_spark.operators.similarity import _subdivide_cells  # noqa: F401

    rng = random.Random(7)
    dim, members, n_clusters = 8, 5, 40  # 200 distinct vectors
    rows = []
    for c in range(n_clusters):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        for m in range(members):
            rows.append(
                (
                    c * members + m,
                    [x + 0.001 * rng.uniform(-1, 1) for x in center],
                )
            )
    df = _emb(spark, rows)
    # one giant top-level cell (single centroid), budget -> s_max=64 < 200
    cents = [(0, rows[0][1])]
    out = semantic_dedup(
        df, threshold=0.99, centroids=cents, max_cell_pairs=2048
    ).collect()
    assert len(out) == len(rows)
    # sub-quantization actually fired: more than one final cell label
    cells = {r.cell for r in out}
    assert len(cells) > 1
    by_planted = {}
    for r in out:
        by_planted.setdefault(r.vec_id // members, set()).add(r.cluster_id)
    merged = sum(1 for s in by_planted.values() if len(s) == 1)
    # tight clumps overwhelmingly survive sub-blocking (allow a couple of
    # straddles — that's the documented blocking price)
    assert merged >= n_clusters - 2, f"only {merged}/{n_clusters} merged"
    # determinism: a second run returns the identical relation
    out2 = semantic_dedup(
        df, threshold=0.99, centroids=cents, max_cell_pairs=2048
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_subdivide_executor_matches_driver_reference(spark):
    """VERDICT r12 next #1: the executor-side sub-quantization strategy
    (no sub-centroid collect, no driver dict) must be BYTE-IDENTICAL to
    the driver-collect strategy — same sub-cell ids, same member
    assignments — on a fixture that forces multiple recursion levels,
    multiple over-budget cells, and non-trivial id offsets across cells."""
    import random

    from pyspark.sql import functions as F

    from mover_spark.operators.dedup import quantized_vec
    from mover_spark.operators.similarity import _subdivide_cells

    rng = random.Random(13)
    dim = 8
    rows = []
    vid = 0
    # three top-level cells of very different sizes (400 / 90 / 10):
    # cell 0 needs recursive splitting at s_max=16, cell 1 one level,
    # cell 2 is in budget and must ride through untouched
    for cell, n in ((0, 400), (1, 90), (2, 10)):
        for _ in range(n):
            rows.append((vid, cell, [rng.uniform(-1, 1) for _ in range(dim)]))
            vid += 1
    df = spark.createDataFrame(
        rows, "vid long, cell long, emb array<double>"
    ).select(
        "vid",
        "cell",
        quantized_vec("emb").alias("qv"),
    ).withColumn("norm", F.sqrt(F.aggregate(
        "qv", F.lit(0).cast("long"), lambda a, x: a + x * x
    ).cast("double")))
    args = dict(s_max=16, start_id=1000, max_depth=3)
    prod = sorted(
        (r.vid, r.cell)
        for r in _subdivide_cells(df, **args, mode="executor").collect()
    )
    ref = sorted(
        (r.vid, r.cell)
        for r in _subdivide_cells(df, **args, mode="driver").collect()
    )
    assert prod == ref
    # the split actually happened and allocated fresh ids
    assert any(c >= 1000 for _, c in prod)
    # every final cell respects the budget (no pathological leftovers here)
    from collections import Counter

    assert max(Counter(c for _, c in prod).values()) <= 16
    """The budget is opt-in: max_cell_pairs=None must leave the
    oracle-checked default surface untouched."""
    v = [1.0, 2.0, 3.0, 4.0]
    other = [4.0, -3.0, 2.0, -1.0]
    df = _emb(spark, [(0, v), (1, other), (5, list(v)), (9, list(v))])
    base = sorted(map(tuple, semantic_dedup(df, threshold=0.9, n_cells=2).collect()))
    same = sorted(
        map(
            tuple,
            semantic_dedup(
                df, threshold=0.9, n_cells=2, max_cell_pairs=None
            ).collect(),
        )
    )
    assert base == same


def test_assignment_checkpoint_owned_by_session_memo(spark):
    """The cell-assignment checkpoint belongs to the session memo: three
    calls on one input leave one checkpoint in storage, and memo.clear()
    releases it while a caller still holds a result."""
    sc = spark.sparkContext._jsc.sc()

    def stored():
        return {i.id() for i in sc.getRDDStorageInfo()}

    memo.clear()
    v = [1.0, 2.0, 3.0, 4.0]
    df = _emb(spark, [(0, v), (1, [4.0, -3.0, 2.0, -1.0]), (5, list(v)), (9, list(v))])
    before = stored()
    held = semantic_dedup(df, threshold=0.9, n_cells=2)
    rows = sorted(map(tuple, held.collect()))
    for _ in range(2):
        assert sorted(map(tuple, semantic_dedup(df, threshold=0.9, n_cells=2).collect())) == rows
    new = stored() - before
    assert len(new) == 1, f"{len(new)} checkpoints left by three calls"
    memo.clear()
    assert not stored() & new, "memo.clear() left the assignment checkpoint in storage"
