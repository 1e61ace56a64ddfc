"""Dedup-operator tests (sf0.001 fixtures + constructed cases)."""

from pyspark.sql import functions as F

from mover_spark import memo
from mover_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from mover_spark.operators.similarity import brute_force_topk, lsh_topk


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_copies for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_matches_exact_jaccard(spark, catalog):
    """LSH + exact verification must reproduce the exact all-pairs result on
    the fixture (planted pairs are j>=0.9; banding recall ~1)."""
    docs = catalog.df("documents")
    exact = {(r.doc_a, r.doc_b, r.jaccard) for r in ngram_jaccard_pairs(docs, 0.8).collect()}
    lsh = {(r.doc_a, r.doc_b, r.jaccard) for r in minhash_lsh_pairs(docs, 0.8).collect()}
    assert exact, "fixture should contain planted near-duplicates"
    assert lsh == exact


def test_simhash_pairs_structure(spark, catalog):
    docs = catalog.df("documents")
    rows = simhash_pairs(docs, max_hamming=3).collect()
    assert all(r.doc_a < r.doc_b for r in rows)
    assert all(r.hamming <= 3 for r in rows)
    # deterministic across runs
    rows2 = simhash_pairs(docs, max_hamming=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_embedding_cosine_pairs_symmetric_threshold(spark, catalog):
    emb = catalog.df("embeddings")
    rows = embedding_cosine_pairs(emb, threshold=0.4).collect()
    assert all(r.vec_a < r.vec_b and r.cosine >= 0.4 for r in rows)


def test_brute_force_topk_selfcheck(spark, catalog):
    emb = catalog.df("embeddings")
    out = brute_force_topk(emb, emb.where(F.col("vec_id") < 3), k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_lsh_topk_recall(spark, catalog):
    """LSH ANN recall@10 vs brute force — deterministic given fixed planes
    and fixed fixture data."""
    emb = catalog.df("embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=10).collect()
    approx = lsh_topk(emb, queries, k=10, probes=1).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.15, f"recall collapsed: {recall}"
    assert all(r.rank <= 10 for r in approx)


def test_lsh_topk_parameterized_planes(spark, catalog):
    """The data-sized plane-count path: more planes -> more, smaller
    buckets; results stay a subset of correct candidates with exact
    cosines (spot-check vs brute force on shared pairs)."""
    from mover_spark.operators.similarity import (
        auto_lsh_planes,
        brute_force_topk,
        lsh_topk,
    )

    emb = catalog.df("embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    n_pl = auto_lsh_planes(emb.count())
    got = lsh_topk(emb, queries, k=5, probes=1, n_planes=n_pl).collect()
    assert got, "parameterized-plane LSH returned nothing"
    truth = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(emb, queries, k=200).collect()
    }
    for r in got:
        key = (r.query_id, r.neighbor_id)
        if key in truth:  # cosine must be the EXACT value brute force computed
            assert truth[key] == r.cosine


def test_lsh_pipeline_memoization(spark):
    """Pair enumeration is memoized per (corpus plan, params): the same
    corpus + threshold returns the SAME persisted DataFrame (triangles /
    clustering / canonical-filter share one pipeline); different params
    miss; memo.clear() unpersists and empties both memos."""
    from mover_spark.operators import dedup as D

    memo.clear()
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "something else entirely here")],
        "doc_id long, text string",
    )
    p1 = D.minhash_lsh_pairs(docs, threshold=0.8)
    p2 = D.minhash_lsh_pairs(docs, threshold=0.8)
    assert p1 is p2  # memo hit
    assert D.minhash_lsh_pairs(docs, threshold=0.5) is not p1  # param miss
    assert p1.storageLevel.useMemory  # persisted
    assert len(memo.entries("shingles")) == 1  # one corpus -> one shingle entry
    assert [(r.doc_a, r.doc_b) for r in p1.collect()] == [(1, 2)]

    memo.clear()
    assert not memo.entries("lsh_pairs") and not memo.entries("shingles")
    assert not p1.storageLevel.useMemory  # released


def test_normalized_dedup_window_semantics(spark):
    """Post-rewrite (groupBy+self-join -> window aggregates): canonical
    representative is the smallest id per normalized form, every input row
    survives with its group's variant count, and the plan carries no Join."""
    from mover_spark.operators.dedup import normalized_dedup

    df = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello   world"),
            (3, "HELLO WORLD"),
            (4, "entirely different"),
            (5, ""),
            (6, "???"),  # canonicalizes to empty -> same group as 5
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.canon_id, r.n_variants) for r in normalized_dedup(df).collect()}
    assert out == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        4: (4, 1),
        5: (5, 2), 6: (5, 2),
    }
    plan = normalized_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "window rewrite must not reintroduce a join"


def test_dedup_against_base_exact_near_and_exemptions(spark):
    """Incremental dedup drops new docs that exactly OR nearly duplicate
    the base, keeps genuinely new content, and exempts sub-2-word docs
    from the near phase (exact phase still catches identical bytes)."""
    from mover_spark.operators.dedup import dedup_against_base

    base = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog today"),
            (101, "completely different base document about spark engines"),
            (102, "tiny"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # exact copy of base 100 -> dropped by the digest phase
            (1, "the quick brown fox jumps over the lazy dog today"),
            # near-dup of base 100 (one word appended: 9 of 10 bigrams
            # shared, j = 0.9) -> caught by the near phase
            (2, "the quick brown fox jumps over the lazy dog today extra"),
            # fresh content -> survives
            (3, "an entirely unrelated new crawl document right here"),
            # single word, byte-equal to base 102 -> exact phase catches it
            (4, "tiny"),
            # single word, not in base: empty shingles, survives
            (5, "fresh"),
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in dedup_against_base(new, base, threshold=0.8).collect()}
    assert kept == {3, 5}

    # survivors carry the full new-batch schema, base rows never leak out
    out = dedup_against_base(new, base, threshold=0.8)
    assert out.columns == new.columns

    # a second increment against the SAME base plan reuses the memoized
    # base signatures (no new cache entry for the base side)
    n_entries = len(memo.entries("shingles"))
    new2 = spark.createDataFrame(
        [(7, "another brand new increment document arrives")],
        "doc_id long, text string",
    )
    kept2 = {r.doc_id for r in dedup_against_base(new2, base).collect()}
    assert kept2 == {7}
    # one NEW entry (new2's signatures); the base entry was reused
    assert len(memo.entries("shingles")) == n_entries + 1


def test_containment_pairs_asymmetric_and_lossless(spark, catalog):
    """Containment catches a short doc quoted inside a long one (Jaccard
    far below any dedup threshold), emits the ordered direction only, and
    the prefix-filtered plan is lossless vs a brute-force recomputation."""
    from mover_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    inner = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} w{i+1}" for i in range(0, 60, 2))
    docs = spark.createDataFrame(
        [
            (1, inner),
            (2, filler + " " + inner + " " + filler.upper()),
            (3, "totally unrelated content about spark plans and shuffles"),
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_inner, r.doc_outer): r.containment
           for r in containment_pairs(docs, threshold=0.9).collect()}
    # doc 1's shingles all appear in doc 2 except the two seam bigrams
    # broken by the splice -- containment 5/6? No: "alpha beta"... all 5
    # internal bigrams of doc 1 appear intact inside doc 2 -> c = 1.0
    assert (1, 2) in got and got[(1, 2)] >= 0.9
    assert (2, 1) not in got, "the big doc is NOT contained in the small one"
    assert not any(3 in p for p in got)
    # and the SAME pair is invisible to symmetric Jaccard at 0.8
    j = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, 0.8).collect()}
    assert (1, 2) not in j and (2, 1) not in j

    # lossless on the fixture: prefix-filtered == brute force (collected
    # via the exact definition on shingle sets)
    from mover_spark.operators.dedup import shingles_udf

    fixture = catalog.df("documents")
    fast = {(r.doc_inner, r.doc_outer, r.containment)
            for r in containment_pairs(fixture, threshold=0.9).collect()}
    sh = {r.doc_id: set(r.sh) for r in fixture.select(
        "doc_id", shingles_udf()(F.col("text")).alias("sh")).collect() if r.sh}
    brute = set()
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a != b and sa and len(sa & sb) / len(sa) >= 0.9:
                brute.add((a, b, round(len(sa & sb) / len(sa), 6)))
    assert fast == brute


def test_substring_dup_spans_hand_computed(spark):
    """Interval-union semantics: overlapping duplicated grams count each
    token once; self-repetition inside one doc is excised; the global
    first occurrence never loses tokens; short docs pass through."""
    from mover_spark.operators.dedup import substring_dup_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),            # source of the shared span
            (2, "x a b c d e y"),          # grams at pos 2,3 dup -> [2,7) = 5
            (3, "p q r s p q r s"),        # self-repeat: pos-5 gram dup -> 4
            (4, "u v"),                    # too short for any gram
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in substring_dup_spans(docs, min_len=4).collect()}
    assert got[1].n_removed == 0 and got[1].pct_removed == 0.0
    assert got[2].n_tokens == 7 and got[2].n_removed == 5
    assert got[2].pct_removed == round(5 / 7, 6)
    assert got[3].n_removed == 4 and got[3].pct_removed == 0.5
    assert got[4].n_removed == 0 and got[4].n_tokens == 2

    # stability: a different physical partitioning changes nothing
    again = {r.doc_id: r.n_removed
             for r in substring_dup_spans(docs.repartition(5), min_len=4).collect()}
    assert again == {d: r.n_removed for d, r in got.items()}


def test_substring_dedup_clean_hand_computed(spark):
    """Span excision mirrors the stats view: the same fixture's marked
    intervals are REMOVED from the text, first occurrences keep every
    token, full-duplicate docs collapse to '', null text stays null, and
    untouched docs come back bit-identical."""
    from mover_spark.operators.dedup import substring_dedup_clean, substring_dup_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "x a b c d e y"),          # [2,7) excised -> "x y"
            (3, "p q r s p q r s"),        # self-repeat tail excised
            (4, "u v"),
            (5, "a b c d"),                # whole doc = doc 1's prefix gram -> ""
            (6, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in substring_dedup_clean(docs, min_len=4).collect()}
    assert got[1].clean_text == "a b c d e f" and got[1].n_removed == 0
    assert got[2].clean_text == "x y" and got[2].n_removed == 5
    assert got[3].clean_text == "p q r s" and got[3].n_removed == 4
    assert got[4].clean_text == "u v"
    assert got[5].clean_text == "" and got[5].n_removed == 4
    assert got[6].clean_text is None and got[6].n_removed == 0
    # n_removed agrees with the stats view on every doc
    stats = {r.doc_id: r.n_removed
             for r in substring_dup_spans(docs, min_len=4).collect()}
    assert {d: r.n_removed for d, r in got.items() if d != 6} == {
        d: n for d, n in stats.items() if d != 6
    }


def test_dedup_keep_best_prefers_quality(spark):
    """Per near-dup cluster the max-quality member survives (ties ->
    smallest id); singletons always pass. Contrast with
    dedup_keep_canonical, which would keep the minimum id."""
    from mover_spark.operators.dedup import dedup_keep_best, dedup_keep_canonical

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base, 10),
            (2, base + " extended with a longer tail", 40),  # best of cluster
            (3, base, 10),                                    # tie with 1 on quality
            (9, "a completely different singleton document entirely", 5),
        ],
        "doc_id long, text string, quality int",
    )
    best = sorted(
        r.doc_id
        for r in dedup_keep_best(docs, "quality", threshold=0.5).collect()
    )
    assert best == [2, 9]
    canon = sorted(
        r.doc_id for r in dedup_keep_canonical(docs, threshold=0.5).collect()
    )
    assert canon == [1, 9]
    # quality tie inside a cluster -> smallest id wins
    tie = docs.where(F.col("doc_id").isin([1, 3, 9]))
    kept = sorted(
        r.doc_id for r in dedup_keep_best(tie, "quality", threshold=0.5).collect()
    )
    assert kept == [1, 9]


def test_substring_dup_spans_raises_on_mega_doc(spark):
    """A doc past the 2^20-token encoding limit must raise loudly, never
    silently drop its tail grams (which would undercount and misattribute
    first occurrences)."""
    import pytest

    from mover_spark.operators.dedup import substring_dup_spans

    n = (1 << 20) + 8
    docs = spark.createDataFrame(
        [(1, " ".join("t" + str(i % 97) for i in range(n)))],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="exceeds 2\\^20 tokens"):
        substring_dup_spans(docs, min_len=8).collect()


def test_signature_index_round_trip_matches_live(spark, catalog, tmp_path):
    """dedup_against_index over a persisted base index must return exactly
    what dedup_against_base computes live — the cross-job incremental path
    shares _survivors_vs_base_state, and the stored signature_projection
    must survive the parquet round trip bit-for-bit (band buckets rebuilt
    from stored mhs values collide identically)."""
    from mover_spark.operators.dedup import (
        dedup_against_base,
        dedup_against_index,
        write_signature_index,
    )

    docs = catalog.df("documents")
    new = docs.where(F.col("doc_id") % 3 == 0)
    base = docs.where(F.col("doc_id") % 3 != 0)
    path = str(tmp_path / "sigidx")
    write_signature_index(base, path)

    live = {r.doc_id for r in dedup_against_base(new, base, 0.8).collect()}
    idx = {r.doc_id for r in dedup_against_index(new, path, 0.8).collect()}
    assert idx == live
    assert live, "increment should have survivors"


def test_signature_index_rejects_mismatched_constants(spark, catalog, tmp_path):
    """An index written under different hashing constants must RAISE at
    read (band buckets would silently never collide otherwise)."""
    import pytest as _pytest

    from mover_spark.operators.dedup import (
        SIG_INDEX_VERSION,
        read_signature_index,
        write_signature_index,
    )

    path = str(tmp_path / "sigidx")
    write_signature_index(catalog.df("documents").limit(5), path)
    # simulate a writer built with 64 perms: overwrite only the meta row
    spark.createDataFrame(
        [(SIG_INDEX_VERSION, 64, 16, "doc_id", 5)],
        "version int, n_minhash int, lsh_bands int, id_col string, n_docs long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    with _pytest.raises(ValueError, match="64 perms"):
        read_signature_index(spark, path)
    # and a future format version must also refuse
    spark.createDataFrame(
        [(99, 48, 12, "doc_id", 5)],
        "version int, n_minhash int, lsh_bands int, id_col string, n_docs long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    with _pytest.raises(ValueError, match="version 99"):
        read_signature_index(spark, path)


def test_streaming_index_from_persisted_path(spark, catalog, tmp_path):
    """corpus_lsh_index(index_path=...) must produce the same probe target
    as the live signature pass — the long-running-detector shape where a
    scheduled writer job refreshes the corpus index on disk."""
    from mover_spark.operators.dedup import write_signature_index
    from mover_spark.streaming.neardup import corpus_lsh_index

    corpus = catalog.df("documents").where(F.col("doc_id") % 5 != 0)
    path = str(tmp_path / "sigidx")
    write_signature_index(corpus, path)

    live_idx, live_sh = corpus_lsh_index(corpus)
    disk_idx, disk_sh = corpus_lsh_index(corpus, index_path=path)
    def keyed(df):
        return {
            (r.doc_corpus, tuple(r.bh_c), r.band, r.bucket) for r in df.collect()
        }

    assert keyed(disk_idx) == keyed(live_idx)
    assert disk_sh.count() == live_sh.count()


def test_containment_lsh_matches_exact(spark, catalog):
    """The LSH-Ensemble twin must reproduce the exact containment result
    on the fixture (planted pairs sit far above every ratio class's
    j_min, so banding recall is ~1; verification is exact, so precision
    is exactly 1)."""
    from mover_spark.operators.dedup import containment_lsh, containment_pairs

    docs = catalog.df("documents")
    exact = {
        (r.doc_inner, r.doc_outer, r.containment)
        for r in containment_pairs(docs, 0.95).collect()
    }
    lsh = {
        (r.doc_inner, r.doc_outer, r.containment)
        for r in containment_lsh(docs, 0.95).collect()
    }
    assert exact, "fixture should contain containment pairs"
    assert lsh == exact


def test_containment_lsh_finds_asymmetric_quote(spark):
    """A doc fully quoted inside a ~1.4x container sits at Jaccard ~0.7 —
    BELOW the 0.95 a symmetric banding threshold would demand — and must
    surface through the size-sliced ratio-class scheme. Containers past
    banded coverage now surface too, via the exact deep arm: the old
    "beyond 2x is not searched" cutoff is gone."""
    from mover_spark.operators.dedup import containment_lsh

    # 11 distinct words -> 10 distinct bigram shingles (slice 6)
    quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    # +4 words -> 14 shingles (slice 7, ratio class k=1)
    small_container = quote + " mu nu xi omicron"
    # +20 words -> 30 shingles (slice 9, k=3: banded only by the 256 pool)
    big_container = quote + " " + " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, quote), (2, small_container), (3, big_container)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_inner, r.doc_outer): r.containment
        for r in containment_lsh(df, threshold=0.95).collect()
    }
    assert got.get((1, 2)) == 1.0, got
    assert got.get((1, 3)) == 1.0, got


def test_containment_lsh_deep_planted_containers(spark, catalog):
    """The r8 verdict's done-criterion: planted 4x and 8x containers must
    be recalled and match containment_pairs exactly. 4x rides the
    256-perm banded classes (k=3); 8x is past any sane banding (its
    Jaccard floor ~0.118 needs 378 r=2 bands = background all-pairs) and
    must come through the exact prefix-filter deep arm."""
    from mover_spark.operators.dedup import (
        containment_lsh,
        containment_pairs,
    )

    quote = " ".join(f"q{i}" for i in range(25))  # 24 shingles
    four_x = quote + " " + " ".join(f"f{i}" for i in range(72))  # ~97 sh
    eight_x = quote + " " + " ".join(f"e{i}" for i in range(168))  # ~193 sh
    # background docs so banding has something to not-collide with
    noise = [
        (100 + i, " ".join(f"n{i}_{j}" for j in range(30))) for i in range(50)
    ]
    df = spark.createDataFrame(
        [(1, quote), (2, four_x), (3, eight_x)] + noise,
        "doc_id long, text string",
    )
    exact = {
        (r.doc_inner, r.doc_outer, r.containment)
        for r in containment_pairs(df, 0.95).collect()
    }
    lsh = {
        (r.doc_inner, r.doc_outer, r.containment)
        for r in containment_lsh(df, 0.95).collect()
    }
    assert (1, 2, 1.0) in exact and (1, 3, 1.0) in exact, exact
    assert lsh == exact
    memo.clear()


def test_containment_lsh_dup_mass_collapse(spark, catalog):
    """Candidate generation must scale with DISTINCT content: an
    exact-dup cluster of m docs may not multiply band-join volume by m^2
    (the measured alpha=1.20 growth at sf100). Representatives band once
    per distinct shingle set; the full m*(m-1) intra-cluster output and
    cross-cluster member pairs still come out, identical to the exact
    operator."""
    from mover_spark.operators.dedup import (
        _containment_reps,
        containment_lsh,
        containment_pairs,
    )

    quote = " ".join(f"d{i}" for i in range(20))
    container = quote + " extra words here padding"
    dups = [(10 + i, quote) for i in range(12)]  # 12 identical docs
    df = spark.createDataFrame(
        dups + [(50, container)], "doc_id long, text string"
    )
    reps, members = _containment_reps(df)
    assert reps.count() == 2, "12 identical docs must collapse to one rep"
    assert members.count() == 13
    exact = {
        (r.doc_inner, r.doc_outer, r.containment)
        for r in containment_pairs(df, 0.95).collect()
    }
    lsh = {
        (r.doc_inner, r.doc_outer, r.containment)
        for r in containment_lsh(df, 0.95).collect()
    }
    # 12*11 intra-cluster ordered pairs + 12 quote-in-container pairs
    assert len(exact) == 12 * 11 + 12
    assert lsh == exact
    memo.clear()


def test_containment_scheme_builder_contract(spark):
    """Plan-build-time tuning: wide bands only (r >= 2) — the r=1
    fallback is refused (degenerate candidate rates) — per-class band
    counts are sized to the miss bound (not locked to n_hash/r), classes
    the signature can't band go to the exact deep arm, and the builder
    raises when NOTHING fits. The 256-perm pool must extend banded
    coverage to 4x containers (class 3) with escalating selectivity."""
    import pytest as _pytest

    from mover_spark.operators.dedup import (
        N_CONTAIN_MINHASH,
        _containment_band_schemes,
    )

    s95 = _containment_band_schemes(0.95, 2**0.5, 5e-3, 48)
    assert 1 not in s95, "r=1 must never be chosen"
    # 48 perms can't meet any FP cap: the coverage fallback bands both
    # classes at r=2, and the prior-weighted budget trades class 1 miss
    # (0.02 at prior 0.2) for fewer bands than the flat-5e-3 22
    assert s95 == {2: (17, [0, 1])}, s95
    # 256-perm pool under the round-10 cost model: per class the
    # SMALLEST r clearing its background-admission cap (class 0 needs
    # r=4 — r=3's 1.1e-3/pair would flood the verify join from the
    # same-size near-dup stratum; class 1 measured fine at r=3), band
    # counts from the prior-allocated global budget (class 0 tightens
    # to ~2.5e-3, class 1 relaxes to ~1.5e-2 — the slot ceiling drops
    # 220 -> 124, join units 234 -> 144 vs the round-9 flat table)
    s256 = _containment_band_schemes(0.95, 2**0.5, 5e-3, N_CONTAIN_MINHASH)
    assert s256 == {4: (31, [0]), 3: (41, [1]), 2: (70, [2, 3])}, s256
    for r, (n_bands, _) in s256.items():
        assert r * n_bands <= N_CONTAIN_MINHASH
    # the operator caps banding at the FP-economic class boundary; the
    # capacity-driven deeper classes exist but route to the exact arm
    capped = _containment_band_schemes(
        0.95, 2**0.5, 5e-3, N_CONTAIN_MINHASH, max_class=1
    )
    assert capped == {4: (31, [0]), 3: (41, [1])}, capped
    with _pytest.raises(ValueError, match="containment_pairs"):
        _containment_band_schemes(0.3, 2**0.5, 5e-3, 48)


def test_sig_cache_lru_bounded_and_unpersists(spark, catalog, monkeypatch):
    """The signature memo must stay bounded: beyond the budget the
    least-recently-used corpus entry is evicted AND unpersisted (a full
    sf10 suite once accumulated enough corpus-sized persists to OOM a
    later operator). LRU order: a re-hit protects an entry from the next
    eviction."""
    from mover_spark.operators import dedup as dd

    memo.clear()
    docs = catalog.df("documents")
    c1 = docs.where(F.col("doc_id") % 3 == 0)
    c2 = docs.where(F.col("doc_id") % 3 == 1)
    c3 = docs.where(F.col("doc_id") % 3 == 2)
    s1 = dd._corpus_shingles(c1)
    s1.count()
    s2 = dd._corpus_shingles(c2)
    s2.count()
    assert len(memo.entries("shingles")) == 2
    # a budget one byte short of the two materialized entries
    held = memo.stats()["resident_bytes"]
    assert held > 0
    monkeypatch.setattr(memo, "_budget_bytes", lambda sc: held - 1)
    assert dd._corpus_shingles(c1) is s1  # hit refreshes recency
    dd._corpus_shingles(c3)               # evicts c2 (now least recent), not c1
    assert len(memo.entries("shingles")) == 2
    assert dd._corpus_shingles(c1) is s1
    assert not s2.storageLevel.useMemory and not s2.storageLevel.useDisk, (
        "evicted entry must be unpersisted"
    )
    assert dd._corpus_shingles(c2) is not s2  # evicted -> rebuilt on demand
    memo.clear()


def test_signature_index_append_matches_full_rebuild(spark, catalog, tmp_path):
    """append_to_signature_index must leave the index row-identical to a
    one-job write over base+increment (signatures are a pure per-doc
    function), so a later increment dedups identically against either —
    the day-N survivors -> day-N+1 base mutation of a daily crawl."""
    from mover_spark.operators.dedup import (
        append_to_signature_index,
        dedup_against_index,
        write_signature_index,
    )

    docs = catalog.df("documents")
    base = docs.where(F.col("doc_id") % 4 == 0)
    day1 = docs.where(F.col("doc_id") % 4 == 1)
    day2 = docs.where(F.col("doc_id") % 4 == 2)

    appended = str(tmp_path / "sig_appended")
    write_signature_index(base, appended)
    n = append_to_signature_index(day1, appended)
    assert n == day1.count()

    rebuilt = str(tmp_path / "sig_rebuilt")
    write_signature_index(base.unionByName(day1), rebuilt)

    via_append = {r.doc_id for r in dedup_against_index(day2, appended, 0.8).collect()}
    via_rebuild = {r.doc_id for r in dedup_against_index(day2, rebuilt, 0.8).collect()}
    assert via_append == via_rebuild
    assert via_append, "day-2 increment should have survivors"
    meta = spark.read.parquet(f"{appended}/meta").collect()[0]
    assert meta.n_docs == base.count() + day1.count()


def test_compact_signature_index_drops_reappended_duplicates(spark, catalog, tmp_path):
    """Compaction: re-appending docs already in the index (the documented
    wasteful-but-harmless case) leaves duplicate rows; compaction must
    drop them WITHOUT the corpus text pass, fix meta's n_docs, and leave
    dedup results identical."""
    from mover_spark.operators.dedup import (
        append_to_signature_index,
        compact_signature_index,
        dedup_against_index,
        write_signature_index,
    )

    docs = catalog.df("documents")
    base = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "sig_compact")
    write_signature_index(base, path)
    append_to_signature_index(base.limit(40), path)  # re-append: duplicates
    n_base = base.count()
    assert spark.read.parquet(f"{path}/signatures").count() == n_base + 40

    before = {r.doc_id for r in dedup_against_index(new, path, 0.8).collect()}
    n = compact_signature_index(spark, path)
    assert n == n_base
    assert spark.read.parquet(f"{path}/signatures").count() == n_base
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    assert meta.n_docs == n_base
    after = {r.doc_id for r in dedup_against_index(new, path, 0.8).collect()}
    assert after == before and after


def test_containment_band_schemes_rejects_hang_params():
    """max_miss >= 1 admits every ratio class and slice_base <= 1 stops
    j_min decreasing — both made the plan-build loop spin forever
    pre-fix. Out-of-domain parameters must raise, not hang."""
    import pytest

    from mover_spark.operators.dedup import _containment_band_schemes

    with pytest.raises(ValueError, match="max_miss"):
        _containment_band_schemes(0.9, 2.0**0.5, 1.0, 48)
    with pytest.raises(ValueError, match="max_miss"):
        _containment_band_schemes(0.9, 2.0**0.5, 0.0, 48)
    with pytest.raises(ValueError, match="slice_base"):
        _containment_band_schemes(0.9, 1.0, 5e-3, 48)
    with pytest.raises(ValueError, match="threshold"):
        _containment_band_schemes(0.0, 2.0**0.5, 5e-3, 48)
    # valid params still produce a scheme
    assert _containment_band_schemes(0.9, 2.0**0.5, 5e-3, 48)


def test_signature_index_swap_crash_recovery(spark, catalog, tmp_path):
    """A crash inside compaction's rename-aside window leaves the
    canonical dataset absent but a complete staging copy on disk; the
    next read must self-repair (recover_staged_swap) and serve identical
    results — the ADVICE.md r8 non-atomic-swap finding."""
    import os
    import shutil

    from mover_spark.operators.dedup import (
        dedup_against_index,
        read_signature_index,
        write_signature_index,
    )

    docs = catalog.df("documents")
    base = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "sig_crash")
    write_signature_index(base, path)
    want = {r.doc_id for r in dedup_against_index(new, path, 0.8).collect()}

    # crash after rename-aside, before _compact promoted: only _old exists
    shutil.move(f"{path}/signatures", f"{path}/signatures_old")
    read_signature_index(spark, path)
    assert os.path.isdir(f"{path}/signatures")
    assert {r.doc_id for r in dedup_against_index(new, path, 0.8).collect()} == want

    # crash after the compact copy was staged but before promotion: the
    # _compact copy (newest complete data) must win over nothing
    shutil.move(f"{path}/digests", f"{path}/digests_compact")
    read_signature_index(spark, path)
    assert os.path.isdir(f"{path}/digests")
    assert {r.doc_id for r in dedup_against_index(new, path, 0.8).collect()} == want


def test_contain_band_boundary_derived_from_cost_model(spark):
    """The banded-vs-deep handoff is DERIVED (round-10), not a constant:
    at the shipped thresholds the derivation reproduces the boundary the
    round-8/9 measurements pinned (class 1), and at low thresholds —
    where every class-1 scheme would admit background pairs at percent
    rates — it retreats to class 0 rather than banding an uneconomic
    stratum. Class 0 is always banded (floor)."""
    from mover_spark.operators.dedup import contain_band_boundary

    for t in (0.99, 0.95, 0.9, 0.85):
        assert contain_band_boundary(t) == 1, t
    for t in (0.8, 0.7, 0.6):
        assert contain_band_boundary(t) == 0, t
    # tiny pools can't cap-band anything: the floor keeps class 0
    assert contain_band_boundary(0.95, n_hash=16) == 0


def test_containment_lsh_prune_unique_is_exact(spark, catalog):
    """Round-11 pair-free df>=2 pruning: output must be row-identical with
    pruning on and off, on a corpus where the prune actually fires (the
    unique-shingle noise docs have no df>=2 shingles at all) AND across a
    boundary pair whose inner doc has shared_n == ceil(t*n) exactly —
    one fewer shared shingle and the pair itself would be sub-threshold."""
    from mover_spark.operators.dedup import (
        containment_lsh,
        containment_pairs,
    )

    # A: 21 words -> 20 shingles; B shares exactly 19 of them (drops the
    # final "w19 w20" bigram) -> containment(A,B) = 19/20 = 0.95, right ON
    # the threshold; A's last shingle is df=1, so shared_n(A) = 19 =
    # ceil(0.95 * 20) — the prune keeps A by exactly one shingle.
    a_text = " ".join(f"w{i}" for i in range(21))
    b_text = " ".join(f"w{i}" for i in range(20)) + " " + " ".join(
        f"b{i}" for i in range(10)
    )
    quote = " ".join(f"q{i}" for i in range(25))
    four_x = quote + " " + " ".join(f"f{i}" for i in range(72))
    noise = [(200 + i, " ".join(f"u{i}_{j}" for j in range(30))) for i in range(40)]
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text), (3, quote), (4, four_x)] + noise,
        "doc_id long, text string",
    )
    exact = {
        (r.doc_inner, r.doc_outer, r.containment)
        for r in containment_pairs(df, 0.95).collect()
    }
    assert (1, 2, 0.95) in exact and (3, 4, 1.0) in exact, exact
    plain = {
        (r.doc_inner, r.doc_outer, r.containment)
        for r in containment_lsh(df, 0.95).collect()
    }
    memo.clear()
    pruned = {
        (r.doc_inner, r.doc_outer, r.containment)
        for r in containment_lsh(df, 0.95, prune_unique=True).collect()
    }
    assert plain == exact
    assert pruned == exact
    memo.clear()


def test_containment_lsh_prune_unique_keeps_dup_mass(spark):
    """Exact-duplicate clusters bypass the candidate stages entirely, so
    pruning must leave intra-cluster pairs intact even when the cluster's
    shingles are unique corpus-wide (rep-level df is 1: the identical
    copies collapse to ONE rep before df counting)."""
    from mover_spark.operators.dedup import containment_lsh

    dups = [(10 + i, "solo unique content never shared elsewhere") for i in range(4)]
    other = [(50, " ".join(f"z{j}" for j in range(12)))]
    df = spark.createDataFrame(dups + other, "doc_id long, text string")
    got = {
        (r.doc_inner, r.doc_outer): r.containment
        for r in containment_lsh(df, 0.9, prune_unique=True).collect()
    }
    assert len(got) == 12  # 4*3 ordered intra pairs
    assert all(v == 1.0 for v in got.values())
    memo.clear()


def test_containment_prune_owns_tok_df_lifecycle(spark, monkeypatch):
    """VERDICT r11 wrong #4 / ADVICE: the prune pass persists a
    vocabulary-sized tok_df whose only handle is inside containment_lsh —
    it must be released by the call itself, not left to ContextCleaner GC.
    Every frame persisted during the call must either be owned by the
    session memo (released by memo.clear()) or already
    unpersisted when the call returns."""
    from mover_spark.operators import dedup as D

    memo.clear()
    persisted = []
    # patch the CONCRETE runtime class (pyspark 4's classic DataFrame
    # subclass overrides persist, so patching pyspark.sql.DataFrame's
    # method would never be hit)
    df_cls = type(spark.range(1))
    orig_persist = df_cls.persist

    def recording_persist(self, *a, **k):
        out = orig_persist(self, *a, **k)
        persisted.append(out)
        return out

    monkeypatch.setattr(df_cls, "persist", recording_persist)
    # corpus where the prune fires AND the small-inner deep branch — the
    # tok_df consumer — engages (same shape as the exactness test)
    a_text = " ".join(f"w{i}" for i in range(21))
    b_text = " ".join(f"w{i}" for i in range(20)) + " " + " ".join(
        f"b{i}" for i in range(10)
    )
    noise = [(200 + i, " ".join(f"u{i}_{j}" for j in range(30))) for i in range(40)]
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)] + noise, "doc_id long, text string"
    )
    got = {
        (r.doc_inner, r.doc_outer)
        for r in D.containment_lsh(df, 0.95, prune_unique=True).collect()
    }
    assert (1, 2) in got
    assert persisted, "expected the prune pass to persist tok_df"
    memo.clear()
    leaked = [
        p for p in persisted
        if p.storageLevel.useMemory or p.storageLevel.useDisk
    ]
    assert not leaked, f"{len(leaked)} persisted frame(s) outlived the call"


def test_containment_prune_release_after_candidates_materialized(spark, monkeypatch):
    """VERDICT r12 wrong #2: the tok_df release must not leave ANY lazy
    plan (standard path included) able to re-execute the df-pass
    aggregate uncached. After the fix the candidate set is checkpointed
    on every pruned path before the unpersist, so the returned plan
    carries no reference to the df aggregate (__df) or the shared-count
    pass (__shared), and tok_df storage is released by return time."""
    from mover_spark.operators import dedup as D

    memo.clear()
    persisted = []
    df_cls = type(spark.range(1))
    orig_persist = df_cls.persist

    def recording_persist(self, *a, **k):
        out = orig_persist(self, *a, **k)
        persisted.append(out)
        return out

    monkeypatch.setattr(df_cls, "persist", recording_persist)
    # dup-heavy small-vocabulary corpus: the prune pass runs (tok_df is
    # persisted) but both filters keep ~everything -> vacuity drop ->
    # inner_small False -> the STANDARD path, exactly the branch the
    # r12 gate skipped
    docs = [(i, " ".join(f"w{j}" for j in range(20 + (i % 3)))) for i in range(30)]
    out = D.containment_lsh(
        spark.createDataFrame(docs, "doc_id long, text string"),
        0.8,
        prune_unique=True,
    )
    assert persisted, "expected the prune pass to persist tok_df"
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "__df" not in plan and "__shared" not in plan, (
        "returned plan still references the df-pass aggregate — the "
        "candidate checkpoint did not sever it"
    )
    out.collect()  # the verify action must succeed post-release
    memo.clear()
    leaked = [
        p for p in persisted
        if p.storageLevel.useMemory or p.storageLevel.useDisk
    ]
    assert not leaked, f"{len(leaked)} persisted frame(s) outlived the call"


def test_containment_releases_intermediate_checkpoints(spark):
    """Optimization r13 (guide §5): the per-scheme candidate checkpoints
    and the prune pass's doc frame are dead once the candidate union is
    checkpointed — containment_lsh must drop their storage blocks itself
    instead of leaving them to driver GC + ContextCleaner (back-to-back
    calls in one session stacked them into measured GC thrash). After a
    warm-registry call, the only NEW persistent RDD a call may leave
    behind is the candidates checkpoint the returned plan still reads."""
    from mover_spark.operators import dedup as D

    memo.clear()
    docs = [(i, " ".join(f"w{j}" for j in range(20 + (i % 3)))) for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # call 1 warms the session signature registry (its persists are
    # owned/bounded there, not per-call)
    D.containment_lsh(df, 0.8, prune_unique=True).collect()
    jsc = spark.sparkContext._jsc

    def rdd_ids():
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    before = rdd_ids()
    out = D.containment_lsh(df, 0.8, prune_unique=True)
    out.collect()
    new = rdd_ids() - before
    # without the release: prune frame + one checkpoint per band scheme
    # + candidates all survive the call (4+). With it: candidates only.
    assert len(new) <= 1, (
        f"{len(new)} new persistent RDDs outlived the call — intermediate "
        "checkpoints were not released"
    )
    out.collect()  # the surviving checkpoint still serves the plan
    memo.clear()


def test_containment_cold_build_one_checkpoint_per_stage(spark, monkeypatch):
    """A cold containment_lsh build materializes exactly two frames — the
    prune pass's doc frame and the union-level candidate set — with every
    band scheme in one relation, and reads the prune stats through an
    observation on the prune checkpoint rather than a driver collect."""
    from mover_spark.operators import dedup as D

    memo.clear()
    a_text = " ".join(f"w{i}" for i in range(21))
    b_text = " ".join(f"w{i}" for i in range(20)) + " " + " ".join(
        f"b{i}" for i in range(10)
    )
    noise = [(200 + i, " ".join(f"u{i}_{j}" for j in range(30))) for i in range(40)]
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)] + noise, "doc_id long, text string"
    )
    assert len(D._containment_band_schemes(
        0.95, 2.0 ** 0.5, 5e-3, D.N_CONTAIN_MINHASH,
        max_class=D.contain_band_boundary(0.95),
    )) >= 2, "fixture must band more than one scheme"
    df_cls = type(spark.range(1))
    orig_checkpoint, orig_collect = df_cls.localCheckpoint, df_cls.collect
    eager_builds, collects = [], []

    def recording_checkpoint(self, eager=True, *a, **k):
        if eager:
            eager_builds.append(self)
        return orig_checkpoint(self, eager, *a, **k)

    def recording_collect(self):
        collects.append(self)
        return orig_collect(self)

    monkeypatch.setattr(df_cls, "localCheckpoint", recording_checkpoint)
    monkeypatch.setattr(df_cls, "collect", recording_collect)
    out = D.containment_lsh(df, 0.95, prune_unique=True)
    assert len(eager_builds) == 2, (
        f"{len(eager_builds)} eager local checkpoints, expected 2"
    )
    assert not collects, f"{len(collects)} driver collect(s) before the result"
    monkeypatch.undo()
    assert (1, 2) in {(r.doc_inner, r.doc_outer) for r in out.collect()}
    memo.clear()


def test_containment_band_keys_contract(spark):
    """_band_keys: a query and a container share a band key exactly when
    they agree on (global band, that band's r values, slice gap within the
    scheme's classes). Equal values at another band index or in another
    scheme are namespaced apart, and a slice gap outside every class
    shares nothing."""
    from mover_spark.operators.dedup import _band_keys

    # r=4 x 3 bands serving class 0 (+ negative class -1), r=3 x 2 bands
    # serving class 1; signatures are 12 slots long
    schemes = {4: (3, [0]), 3: (2, [1])}
    a_keys, b_keys = _band_keys(schemes, k_neg=-1)

    def sig(base):
        return [base + i for i in range(12)]

    same = [7] * 12
    band1 = sig(100)
    band1[4:8] = [1, 2, 3, 4]  # r=4 band 1 reads slots 4..7
    band0 = sig(200)
    band0[0:4] = [1, 2, 3, 4]  # the same values at r=4 band 0
    rows = [
        (1, 10, 5, sig(0)),
        (2, 10, 5, [x if 4 <= i < 8 else x + 50 for i, x in enumerate(sig(0))]),
        (3, 10, 5, band1),
        (4, 10, 5, band0),
        (10, 10, 5, same),
        (11, 10, 5, same),  # gap 0: r=4 classes
        (12, 10, 6, same),  # gap 1: r=3 class
        (13, 10, 4, same),  # gap -1: r=4's negative class
        (14, 10, 7, same),  # gap 2: outside every class
        (15, 10, 3, same),  # gap -2: below the negative class
    ]
    frame = spark.createDataFrame(
        rows, "doc long, n int, slice int, mhs array<bigint>"
    )
    keys = {
        r.doc: (r.a, r.b)
        for r in frame.select("doc", a_keys.alias("a"), b_keys.alias("b")).collect()
    }

    def shared(q, c):
        return set(keys[q][0]) & set(keys[c][1])

    # agreement in r=4 band 1 only -> exactly that band's key, which sits
    # at global band 1 of the container's key array
    (k,) = shared(1, 2)
    assert keys[2][1].index(k) == 1
    # the same values at band 0 vs band 1 never share a key
    assert not shared(3, 4) and not shared(4, 3)
    # constant signatures: every band's values are equal, yet the global
    # band index keeps every key of a doc distinct across bands and schemes
    assert len(set(keys[10][1])) == len(keys[10][1]) == 3 + 2
    assert len(shared(10, 11)) == 3  # gap 0: the r=4 scheme's bands only
    assert len(shared(10, 12)) == 2  # gap 1: the r=3 scheme's bands only
    assert len(shared(10, 13)) == 3  # gap -1: r=4 owns the negative class
    assert not shared(10, 14) and not shared(10, 15)


def test_freq_sorted_docs_shared_and_memoized(spark):
    """Optimization r13 (guide §5/§2.4): ngram_jaccard_pairs and
    containment_pairs derive their prefix-filter inputs from ONE memoized
    (doc, sorted_sh, n) relation — same cache entry, one persisted copy
    per corpus — and the memo is output-neutral: results match a
    cold-cache recomputation exactly."""
    from mover_spark.operators import dedup as D

    memo.clear()
    docs = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),
        (3, "p q r s t u v w"),
        (4, "p q r s t u v w"),
        (5, "z z z z z z z z"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    jac_cold = sorted(map(tuple, D.ngram_jaccard_pairs(df, 0.6).collect()))
    con_cold = sorted(map(tuple, D.containment_pairs(df, 0.6).collect()))
    # both operators produced/consumed the SAME memo entries
    assert len(memo.entries("shingles")) == 1
    fs_entries = memo.entries("freqsorted_sh")
    assert len(fs_entries) == 1, f"expected one shared memo entry, got {fs_entries}"
    relation = fs_entries[0]
    assert relation.storageLevel.useMemory or relation.storageLevel.useDisk
    assert D._freq_sorted_docs(df) is relation  # hit, not a rebuild
    # memoized warm pass returns identical rows
    jac_warm = sorted(map(tuple, D.ngram_jaccard_pairs(df, 0.6).collect()))
    con_warm = sorted(map(tuple, D.containment_pairs(df, 0.6).collect()))
    assert jac_warm == jac_cold and con_warm == con_cold
    assert jac_cold, "fixture must produce at least one jaccard pair"
    assert con_cold, "fixture must produce at least one containment pair"
    memo.clear()
    assert not memo.entries("freqsorted_sh")


def test_conf_bytes_parser():
    """_conf_bytes: size suffixes, bare bytes, disabled (-1) -> default."""
    from mover_spark.operators.dedup import _conf_bytes

    class FakeConf:
        def __init__(self, v):
            self._v = v

        def get(self, key):
            if self._v is None:
                raise Exception("no such conf")
            return self._v

    class FakeSpark:
        def __init__(self, v):
            self.conf = FakeConf(v)

    assert _conf_bytes(FakeSpark("64MB"), "k", 7) == 64 * 1024**2
    assert _conf_bytes(FakeSpark("10485760b"), "k", 7) == 10 * 1024**2
    assert _conf_bytes(FakeSpark("1g"), "k", 7) == 1024**3
    assert _conf_bytes(FakeSpark("2048"), "k", 7) == 2048
    assert _conf_bytes(FakeSpark("-1"), "k", 7) == 7
    assert _conf_bytes(FakeSpark("junk"), "k", 7) == 7
    assert _conf_bytes(FakeSpark(None), "k", 7) == 7


def test_inner_small_gate_on_estimated_volume():
    """ADVICE r11: the small-inner broadcast filters gate on estimated
    broadcast BYTES (at the r12-calibrated 64 B/key). The measured
    5M-doc campaign regime (10k inners, short docs) must stay ON; a
    large-document regime (200k inners whose per-doc prefix is ~5k
    tokens -> ~GBs broadcast) must flip OFF."""
    from mover_spark.operators.dedup import _inner_small_gate

    class FakeConf:
        def get(self, key):
            return "64MB"  # the session default

    class FakeSpark:
        conf = FakeConf()

    spark = FakeSpark()
    schemes = {4: (16, [0, 1]), 2: (32, [2, 3, 4])}  # 144 keys/doc w/ negs
    # 5M-campaign shape: 10k inners, ~53-token prefixes -> well under cap
    assert _inner_small_gate(spark, schemes, 0.95, 2.0, 10_000, 530_000)
    # large-document shape: 200k inners x ~5k-token prefixes -> ~66 GB
    assert not _inner_small_gate(
        spark, schemes, 0.95, 2.0, 200_000, 1_000_000_000
    )
    # doc count alone must NOT flip it: many tiny inners stay ON
    # (20k x 144 keys + 500k prefix toks = 3.4M keys ~ 216 MB < 256 MB)
    assert _inner_small_gate(spark, schemes, 0.95, 2.0, 20_000, 500_000)
    # ...but past the cap the same tiny-doc shape flips OFF honestly
    # (50k x 144 + 500k = 7.7M keys ~ 493 MB > 256 MB at 64 B/key)
    assert not _inner_small_gate(spark, schemes, 0.95, 2.0, 50_000, 500_000)


def test_containment_candidate_memo_shared_across_arms(spark):
    """Optimization r14 (VERDICT r13 next #2): the pruned and unpruned
    containment_lsh arms share ONE checkpointed candidate relation per
    (corpus, threshold, slice_base, max_miss) — the memo key carries no
    prune flag because the df>=2 prune is exact — and the memo is
    output-neutral: the arm that rides the other's candidates returns
    exactly its own cold-cache rows."""
    from mover_spark.operators import dedup as D

    memo.clear()
    # a true pair (A contained in B at 0.95) + unique-noise docs so the
    # prune actually fires and the two arms' own candidate sets differ
    a_text = " ".join(f"w{i}" for i in range(21))
    b_text = (
        " ".join(f"w{i}" for i in range(20))
        + " "
        + " ".join(f"b{i}" for i in range(10))
    )
    noise = [
        (100 + i, " ".join(f"u{i}_{j}" for j in range(30))) for i in range(20)
    ]
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)] + noise, "doc_id long, text string"
    )
    cold_pruned = sorted(
        map(tuple, D.containment_lsh(df, 0.9, prune_unique=True).collect())
    )
    assert len(memo.entries("containment_cand")) == 1, memo.entries("containment_cand")
    entry = memo.entries("containment_cand")[0]
    # the unpruned arm hits the pruned arm's entry (same key, no rebuild)
    warm_plain = sorted(
        map(tuple, D.containment_lsh(df, 0.9, prune_unique=False).collect())
    )
    assert len(memo.entries("containment_cand")) == 1
    assert memo.entries("containment_cand")[0] is entry
    memo.clear()
    assert not memo.entries("containment_cand")
    cold_plain = sorted(
        map(tuple, D.containment_lsh(df, 0.9, prune_unique=False).collect())
    )
    assert cold_plain, "fixture must produce containment pairs"
    assert warm_plain == cold_plain == cold_pruned
    memo.clear()



def test_containment_result_survives_candidate_eviction(spark, monkeypatch):
    """A containment_lsh result the caller still holds must stay readable
    after a later call evicts its candidate memo entry: eviction drops the
    memo's reference only, it does not release the checkpoint blocks the
    result reads."""
    from mover_spark.operators import dedup as D

    memo.clear()
    # a budget of one byte: every put evicts every other entry that holds blocks
    monkeypatch.setattr(memo, "_budget_bytes", lambda sc: 1)

    def corpus(tag):
        a = " ".join(f"{tag}{i}" for i in range(21))
        b = " ".join(f"{tag}{i}" for i in range(20)) + " " + " ".join(
            f"x{tag}{i}" for i in range(10)
        )
        return spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")

    first = D.containment_lsh(corpus("p"), 0.9)
    rows = sorted(map(tuple, first.collect()))
    assert rows, "fixture must produce containment pairs"
    D.containment_lsh(corpus("q"), 0.9).collect()  # evicts the first entry
    assert len(memo.entries("containment_cand")) == 1
    assert sorted(map(tuple, first.collect())) == rows
    memo.clear()

def test_dup_marked_memo_shared_and_spans_kernel_identical(spark):
    """Optimization r14: (a) substring_dup_spans and substring_dedup_clean
    share ONE memoized marked-positions relation per (corpus, min_len);
    (b) the spans operator's in-row interval-union (array_distinct over
    flattened per-start sequences) computes the same n_removed as the
    r13 ordered-window running-max kernel it replaced, on a fixture with
    overlapping, adjacent, disjoint and whole-doc marked spans."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mover_spark.operators import dedup as D

    memo.clear()
    min_len = 3
    docs = [
        (1, "a b c d e f g h"),                # first occurrences
        (2, "x a b c d e y a b c z q"),        # overlapping + repeated spans
        (3, "a b c d e f g h"),                # exact copy: fully covered
        (4, "q r s t u v"),                    # zero dups
        (5, "m n o p m n o p m n o p"),        # self-repetition chains
        (6, "a b c x x q r s t"),              # two disjoint marked spans
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.pct_removed)
        for r in D.substring_dup_spans(df, min_len=min_len).collect()
    }
    _ = D.substring_dedup_clean(df, min_len=min_len).collect()
    marked = memo.entries("dup_marked")
    assert len(marked) == 1, f"expected one shared entry, got {marked}"
    # the r13 window kernel, verbatim, over the same marked positions
    dups = D._dup_marked_positions(df, min_len, "text", "doc_id")
    wdoc = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    old = {
        r.doc: r.n_removed
        for r in (
            dups.withColumn(
                "prev_end", F.max(F.col("pos") + min_len).over(wdoc)
            )
            .withColumn(
                "contrib",
                F.greatest(
                    F.col("pos")
                    + F.lit(min_len)
                    - F.greatest(
                        F.col("pos"), F.coalesce(F.col("prev_end"), F.lit(0))
                    ),
                    F.lit(0),
                ),
            )
            .groupBy("doc")
            .agg(F.sum("contrib").alias("n_removed"))
            .collect()
        )
    }
    assert old, "fixture must mark duplicated spans"
    for doc_id, n_removed in old.items():
        assert got[doc_id][1] == n_removed, (doc_id, got[doc_id], n_removed)
    assert got[3][1] == got[3][0]  # exact copy: every token covered
    assert got[4][1] == 0  # zero-dup doc attached by the left join
    memo.clear()
    assert not memo.entries("dup_marked")


def test_shingle_udf_runs_once_per_doc(spark):
    """The corpus shingle relation evaluates the shingle UDF once per doc
    (one ArrowEvalPython [sh(...)] node; a filter on the shingle array
    itself is pushed below the projection and runs the UDF a second time)
    and keeps the rows of that filter on edge texts: null, empty, one
    word, a double space, a trailing space."""
    from mover_spark.operators import dedup as D

    memo.clear()
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "one"), (4, "a  b"), (5, "a b "), (6, "x y z"), (7, "x y z")],
        "doc_id long, text string",
    )
    want = (
        df.select(
            F.col("doc_id").alias("doc"),
            F.transform(D.shingles_udf()(F.col("text")), lambda s: F.xxhash64(s)).alias("hs"),
        )
        .where(F.size("hs") > 0)
        .collect()
    )
    assert sorted(r.doc for r in want) == [4, 5, 6, 7]
    relation = D._corpus_shingles(df)
    plan = relation._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython [sh(") == 1, plan
    assert plan.count("ArrowEvalPython [sig(") == 1, plan  # one minhash pass
    assert sorted((r.doc, r.hs) for r in relation.collect()) == sorted(map(tuple, want))
    projection = D.signature_projection(df)
    assert sorted((r.doc_id, r.hs) for r in projection.collect()) == sorted(map(tuple, want))
    # docs 6 and 7 share a shingle set: one representative
    tagged = D._containment_reps(df)[0]
    assert sorted(map(tuple, tagged.collect())) == sorted(
        (r.doc, r.hs) for r in want if r.doc != 7
    )
    memo.clear()


def test_one_shingle_pass_per_corpus(spark, catalog, monkeypatch):
    """MinHash pairs, LSH containment, exact n-gram Jaccard and
    doc_novelty on one corpus shingle it once: the shingle UDF sees each
    doc with at least two tokens exactly once, however many of the
    family's operators read the corpus."""
    import pandas as pd

    from mover_spark.operators import dedup as D
    from mover_spark.operators.text import doc_novelty

    seen = spark.sparkContext.accumulator(0)
    real = D.shingles_udf

    def counting_shingles_udf(n: int = 2):
        kernel = real(n).func

        @F.pandas_udf("array<string>")
        def sh(text: pd.Series) -> pd.Series:
            seen.add(len(text))
            return kernel(text)

        return sh

    monkeypatch.setattr(D, "shingles_udf", counting_shingles_udf)
    memo.clear()
    docs = catalog.df("documents")
    D.minhash_lsh_pairs(docs, 0.8).collect()
    D.containment_lsh(docs, 0.9).collect()
    D.ngram_jaccard_pairs(docs, 0.8).collect()
    doc_novelty(docs).collect()
    n_docs = docs.where(F.size(F.split("text", " ")) >= 2).count()
    assert n_docs > 0
    assert seen.value == n_docs
    memo.clear()
