"""Deduplication operators over the `documents` / `embeddings` tables —
scale extensions beyond the reference surface (BASELINE.json north star;
the reference's only dedup is PK-dedup, etl/sanitizer.go:38-64).

Five families:
- exact dedup         hash-groupBy on normalized text (one shuffle)
- n-gram Jaccard      exact all-pairs word-bigram-shingle similarity
                      (quadratic baseline; correctness oracle for LSH)
- MinHash + LSH       shingle -> 48 minhashes -> 12 bands -> bucket join ->
                      exact-Jaccard verify. THE scale path: candidate
                      generation is linear in docs, the verify join touches
                      only bucket-colliding pairs.
- SimHash             60-bit sign-of-weighted-sum fingerprint, banded
                      hamming<=k candidate join (per-row, no explode)
- embedding cosine    near-dup pairs over quantized vectors

Determinism: minhash internals hash with Spark's xxhash64 (fixed seed) but
verify with exact Jaccard (engine-independent); SimHash uses the portable
md5-derived 60-bit hash (util.md5_i64) so the DuckDB oracle reproduces its
fingerprints bit-for-bit; minhash perms use baked constants; embedding math
is integer-quantized (round(x*1000)) so dot products are exact integers —
results are bit-stable across partitionings and engines.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from .. import memo


def _conf_bytes(spark, key: str, default: int) -> int:
    """Parse a Spark size conf ("64MB", "10485760b", "-1") to bytes;
    ``default`` on anything unparseable or non-positive."""
    try:
        v = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = 1
    for suf, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3), ("tb", 1024**4),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("t", 1024**4),
        ("b", 1),
    ):
        if v.endswith(suf):
            mult, v = m, v[: -len(suf)]
            break
    try:
        n = int(float(v)) * mult
    except ValueError:
        return default
    return n if n > 0 else default


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

# 31-bit Mersenne prime: a*x stays under 2^62, so the modular minhash
# arithmetic never overflows int64 (Spark 4 runs ANSI mode by default)
MERSENNE_P = (1 << 31) - 1
N_MINHASH = 48
LSH_BANDS = 12  # x4 rows/band; P(miss | j=0.9) ~ 3e-6
_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, MERSENNE_P) for _ in range(N_MINHASH)]
MINHASH_B = [_rng.randrange(0, MERSENNE_P) for _ in range(N_MINHASH)]

#: Dedicated containment signature pool (LSH Ensemble operates at 256+
#: perms for size asymmetry — Zhu et al., VLDB 2016). Separate from the
#: 48-perm Jaccard pool: containment banding needs many narrow bands at
#: low per-class Jaccard floors, and stealing those from the shared pool
#: would either cap coverage at 2x containers (the measured alpha=1.20
#: candidate-growth defect at sf100) or degrade the Jaccard operating
#: point. Baked constants, distinct seed — deterministic signatures.
N_CONTAIN_MINHASH = 256
_crng = random.Random(4243)
CONTAIN_A = [_crng.randrange(1, MERSENNE_P) for _ in range(N_CONTAIN_MINHASH)]
CONTAIN_B = [_crng.randrange(0, MERSENNE_P) for _ in range(N_CONTAIN_MINHASH)]


def words_col(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def shingles_udf(n: int = 2):
    """Arrow-vectorized shingle builder: the distinct word n-grams of each
    text, in first-occurrence order, as array<string>; texts under n words
    (and NULL) give an empty array. Tokens are Python str.split(' '), which
    matches Spark split-with-limit=-1 on a literal space, empty tokens
    included (the DuckDB oracles split the same way). An interpreted
    concat_ws/element_at higher-order chain was the single costliest step
    of every shingle-based pipeline."""

    @F.pandas_udf("array<string>")
    def sh(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            w = t.split(" ") if t is not None else []
            if len(w) >= n:
                out.append(list(dict.fromkeys(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))))
            else:
                out.append([])
        return pd.Series(out)

    return sh


def jaccard_col(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays, integer intersection
    counts -> deterministic double."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: one hash-groupBy shuffle, keeps the
    smallest id per group. At 100 TB this is the cheapest dedup — map-side
    partial agg on md5(text), no row data moves except winners."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "fingerprint", "n_copies")
    )


def canonical_text_col(text: Column | str = "text") -> Column:
    """C4-style canonicalization: lowercase, strip non-alphanumerics,
    collapse whitespace — pure JVM regexp ops, expressed identically in
    the DuckDB oracle (both engines' regex dialects agree on these
    character-class patterns). ONE regex pass, not strip-then-collapse:
    any maximal run of non-[a-z0-9] characters (spaces included) maps to
    a single space, which is exactly what replace-punct-with-space +
    collapse-spaces composed to — at half the regex cost, and regex
    dominates this operator (it is the whole per-byte work of
    normalized_dedup, 580 s at the 100x fixture before this change)."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    return F.trim(F.regexp_replace(c, "[^a-z0-9]+", " "))


def normalized_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonicalization dedup (between exact and fuzzy): documents equal
    after case/punctuation/whitespace normalization collapse to one
    canonical representative (the smallest id). The per-group canon_id /
    n_variants come from window aggregates over the md5 of the canonical
    form: ONE shuffle carrying (id, 16-byte digest) — never document
    bodies — and the normalization regexes + md5 evaluate once per row.
    (The previous groupBy + digest-keyed self-join shuffled both sides and
    re-derived the key per side: measured 3.5x slower at sf1.) Group sizes
    are duplicate-set sizes (tiny), so the window sort is per-key trivial
    and skew-free at any corpus size. NULL-text docs (md5 -> null) are
    dropped, exactly as the previous inner self-join on the digest did —
    without the filter the window would group every null-digest doc into
    one bogus duplicate cluster. The null filter runs on text BEFORE the
    digest projection, NOT on __ck after: md5(canonical(x)) is null iff
    x is null, and filtering on __ck let Catalyst push
    isnotnull(md5(regex(...))) into the scan filter — the entire
    regex+md5 chain evaluated TWICE per row (measured: half the
    operator's 580 s at the 100x fixture was that duplicated filter)."""
    w = Window.partitionBy("__ck")
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.md5(canonical_text_col(text_col)).alias("__ck"))
        .select(
            id_col,
            F.min(id_col).over(w).alias("canon_id"),
            F.count(F.lit(1)).over(w).alias("n_variants"),
        )
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (quadratic baseline)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT bigram-shingle Jaccard >= threshold for all pairs, via prefix
    filtering (PPJoin-style; Xiao et al., WWW'08 — public algorithm).

    Instead of an O(n^2) nested-loop product, candidates come from an
    EQUI-join: sort each doc's shingles by ascending global frequency; two
    docs can reach Jaccard >= t only if their first |A| - ceil(t*|A|) + 1
    rarest shingles overlap (prefix filter), AND a shared prefix token at
    positions (i, j) bounds the possible overlap by
    1 + min(|A|-i, |B|-j), which must reach ceil(t/(1+t) * (|A|+|B|))
    (positional filter). Exploding only prefixes, joining on the shingle,
    and applying both bounds yields a small, skew-resistant candidate set
    that is then verified exactly. Lossless — output identical to brute
    force."""
    # HASH ONCE, UP FRONT (optimization r13, guide §2.2: shuffle fewer
    # bytes / narrower types): every downstream step — the frequency
    # shuffle, the rare-first collect_list sort, the prefix explode and
    # the candidate equi-join — used to carry bigram STRINGS; they now
    # ride the xxhash64'd longs the verify step always used anyway. The
    # prefix filter is lossless under ANY consistent global total order
    # (the (freq, key) order merely has to be the SAME for both docs of a
    # pair), so candidates can only differ in tie-breaks between
    # equal-frequency shingles — and the exact verify discards the
    # difference. Collision caveat unchanged (~n_sh^2/2^64, the hashed
    # domain the verify already lived in). Reads the corpus shingle
    # relation every shingle consumer shares: one cached copy per corpus.
    sh = _corpus_shingles(df, text_col, id_col)
    # global rare-first order materializes as struct sort keys — no global
    # row_number (which would single-partition at scale); the sorted
    # relation is the memoized _freq_sorted_docs shared with containment
    docs = _freq_sorted_docs(df, text_col, id_col).withColumn(
        "prefix",
        F.slice(
            F.col("sorted_sh"),
            1,
            (F.col("n") - F.ceil(F.col("n") * F.lit(threshold)) + 1).cast("int"),
        ),
    )
    pref = docs.select(
        "doc", "n", F.posexplode("prefix").alias("pos", "p")
    ).select("doc", "n", (F.col("pos") + 1).alias("pos"), F.col("p.tok").alias("tok"))
    a = pref.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a"), F.col("pos").alias("i"), "tok")
    b = pref.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b"), F.col("pos").alias("j"), "tok")
    t_frac = threshold / (1.0 + threshold)
    candidates = (
        a.join(b, "tok")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            # size pruning: jaccard <= min/max
            & (F.col("n_a").cast("double") >= F.col("n_b") * threshold)
            & (F.col("n_b").cast("double") >= F.col("n_a") * threshold)
            # positional pruning: remaining-suffix overlap bound must reach
            # the required overlap ceil(t/(1+t) * (n_a + n_b))
            & (
                (1 + F.least(F.col("n_a") - F.col("i"), F.col("n_b") - F.col("j"))).cast("double")
                >= F.ceil(F.lit(t_frac) * (F.col("n_a") + F.col("n_b")) - 1e-9)
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify on the same hashed arrays — no second hashing pass, and
    # array_intersect needs no sort
    sha = sh.select(F.col("doc").alias("doc_a"), F.col("hs").alias("hs_a"))
    shb = sh.select(F.col("doc").alias("doc_b"), F.col("hs").alias("hs_b"))
    return (
        candidates.join(sha, "doc_a")
        .join(shb, "doc_b")
        .withColumn("jaccard", F.round(jaccard_col(F.col("hs_a"), F.col("hs_b")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT shingle containment |A∩B| / |A| >= threshold for all ORDERED
    pairs (a contained-in b) — the asymmetric near-dup relation Jaccard
    misses: a short document quoted inside a much larger one has tiny
    Jaccard but containment ~1. The LLM-pipeline use: quote/subset
    detection and killing wrapper pages that embed a whole source doc.

    Candidate generation is the asymmetric prefix filter (the set
    containment join literature's standard move): sort each doc's
    shingles by ascending global frequency; a pair can reach overlap
    ceil(t·|A|) only if one of A's first |A| - ceil(t·|A|) + 1 rarest
    shingles appears in B — so only A-side PREFIXES explode, while the
    B side indexes all its tokens (no symmetric size bound exists: the
    container may be arbitrarily large, only |B| >= ceil(t·|A|) prunes).
    A shared token at rare-first positions (i, j) further bounds the
    remaining overlap by 1 + min(|A|-i, |B|-j) (positional filter).
    Candidates verify exactly on hashed shingle arrays. Lossless —
    output identical to brute force (up to the same ~n_sh²/2^64 hash
    collision caveat as ngram_jaccard_pairs: shingles are xxhash64'd ONCE
    up front, so every downstream shuffle, sort, join key, and intersect
    works on longs instead of bigram strings — the single biggest
    constant-factor cost on a shingle-heavy corpus)."""
    sh = _corpus_shingles(df, text_col, id_col)
    docs = _freq_sorted_docs(df, text_col, id_col)
    # required overlap o = ceil(t * n_a), computed as ceil(t*n - 1e-9):
    # the epsilon guards the binary-float boundary (fl(0.9)*n can land one
    # ulp ABOVE the decimal product and ceil across an integer, demanding
    # one more overlap than the unrounded verification ratio accepts —
    # a boundary pair would be pruned that brute force keeps). Relaxing by
    # 1e-9 only ever WIDENS the candidate set; verification stays exact.
    def req_overlap(n):
        return F.ceil(n * F.lit(threshold) - F.lit(1e-9))

    # A explodes only its first n_a - o + 1 rare tokens, B explodes everything
    a = (
        docs.withColumn(
            "prefix",
            F.slice(
                F.col("sorted_sh"),
                1,
                (F.col("n") - req_overlap(F.col("n")) + 1).cast("int"),
            ),
        )
        .select("doc", "n", F.posexplode("prefix").alias("pos", "p"))
        .select(
            F.col("doc").alias("doc_inner"),
            F.col("n").alias("n_a"),
            (F.col("pos") + 1).alias("i"),
            F.col("p.tok").alias("tok"),
        )
    )
    b = docs.select(
        "doc", "n", F.posexplode("sorted_sh").alias("pos", "p")
    ).select(
        F.col("doc").alias("doc_outer"),
        F.col("n").alias("n_b"),
        (F.col("pos") + 1).alias("j"),
        F.col("p.tok").alias("tok"),
    )
    candidates = (
        a.join(b, "tok")
        .where(
            (F.col("doc_inner") != F.col("doc_outer"))
            & (F.col("n_b") >= req_overlap(F.col("n_a")))
            & (
                (1 + F.least(F.col("n_a") - F.col("i"), F.col("n_b") - F.col("j")))
                >= req_overlap(F.col("n_a"))
            )
        )
        .select("doc_inner", "doc_outer")
        .distinct()
    )
    sha = sh.select(F.col("doc").alias("doc_inner"), F.col("hs").alias("hs_a"))
    shb = sh.select(F.col("doc").alias("doc_outer"), F.col("hs").alias("hs_b"))
    # acceptance compares the UNROUNDED ratio — the same quantity the
    # prefix/size/positional bounds prune on (ceil(t*n_a) <=> c/n_a >= t
    # for integer c), so pruning and verification can never disagree at a
    # rounding boundary; the rounded value is display-only
    ratio = (
        F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b"))).cast("double")
        / F.size("hs_a")
    )
    return (
        candidates.join(sha, "doc_inner")
        .join(shb, "doc_outer")
        .withColumn("__r", ratio)
        .where(F.col("__r") >= threshold)
        .select(
            "doc_inner", "doc_outer", F.round(F.col("__r"), 6).alias("containment")
        )
    )


def contain_band_boundary(
    threshold: float,
    slice_base: float = 2.0 ** 0.5,
    max_miss: float = 5e-3,
    n_hash: int | None = None,
) -> int:
    """Deepest ratio class served by BANDING in containment_lsh, DERIVED
    from the same cost model as the scheme table (round-10; this was a
    measured constant, =1, through round 9): banding stops at the first
    class with no background-admission-cap-feasible (r, miss) option —
    past that point every bandable scheme admits background pairs at a
    rate the round-8/9 measurements showed dominating wall clock (class
    2 at t=0.95 would need r=2 x ~35+ bands, ~5%+ per-pair admission —
    the quadratic term), while the exact prefix-filter arm is linear in
    corpus postings with a q-gated output. Class 0 is always banded
    (via the coverage fallback if need be): with NO banded class the
    deep arm would have to serve same-size strata, exactly the shape
    its size-tail restriction exists to avoid. At the shipped defaults
    (t=0.95/0.9, w=sqrt(2)) this derives the same boundary the measured
    constant pinned: class 1."""
    import math

    if n_hash is None:
        n_hash = N_CONTAIN_MINHASH
    k = 0
    while True:
        j_min = threshold / (1 + slice_base ** (k + 1) - threshold)
        cap = CONTAIN_FP_CAP_CLASS0 if k == 0 else CONTAIN_FP_CAP_DEEPER
        feasible = False
        for g in (0.25, 0.5, 1.0, 2.0, 3.0, 4.0):
            m = min(g * max_miss, CONTAIN_MISS_CAP)
            for r in range(2, min(16, n_hash // 2) + 1):
                hit = 1.0 - j_min**r
                if hit >= 1.0:
                    break
                n_req = math.ceil(math.log(m) / math.log(hit))
                if r * n_req <= n_hash and n_req * CONTAIN_J_BG**r <= cap:
                    feasible = True
                    break
            if feasible:
                break
        if not feasible:
            return max(0, k - 1)
        k += 1

#: multi-match requirement of the exact deep arm (see the q-gram lower
#: bound note in _deep_containment_candidates). q=3: a candidate must
#: share three prefix tokens, which cut measured background candidates
#: ~geometrically per extra token at a sub-token-per-doc prefix cost.
CONTAIN_DEEP_Q = 3


#: measured background (random-pair) Jaccard on the document fixtures —
#: the constant the false-positive admission model below is built on.
CONTAIN_J_BG = 0.04

#: per-pair background ADMISSION caps (expected band collisions for a
#: random pair, n_bands * j_bg^r): class 0 sits on the same-size stratum
#: — the most pair-massive one, where near-dup clusters live — so its
#: cap is tight; deeper cross-slice strata share less vocabulary and
#: carry less mass, and the round-9 measurement showed ~3.3e-3 per pair
#: (class 1 at r=3 x 51) costs nothing visible in the verify stage.
CONTAIN_FP_CAP_CLASS0 = 1.5e-4
CONTAIN_FP_CAP_DEEPER = 4e-3

#: pair-mass prior over banded ratio classes, p_k ~ decay^k: true
#: containment pairs concentrate at small size ratios (a near-dup crawl
#: duplicates whole documents far more often than it quotes 2x-larger
#: ones), so a deeper class can carry a larger share of the global miss
#: budget for far fewer bands. The prior is an assumption, stated here,
#: not a fixture measurement — the per-class cap below bounds the damage
#: if it is wrong for a corpus.
CONTAIN_PRIOR_DECAY = 0.25

#: per-class worst-case miss cap: no allocation may push any single
#: class's miss above this, however little pair mass the prior assigns.
CONTAIN_MISS_CAP = 0.05


def _containment_band_schemes(
    threshold: float,
    slice_base: float,
    max_miss: float,
    n_hash: int,
    max_class: int | None = None,
) -> dict[int, tuple[int, list[int]]]:
    """rows-per-band -> (bands used, admissible size-ratio classes): the
    LSH Ensemble tuning step (Zhu et al., VLDB 2016) done at plan-build
    time against the dedicated containment pool — under a COST MODEL
    with measured constants, not per-class constants (round-10 redesign;
    the round-9 table is the W_SLOT->inf, flat-miss corner of this one).

    For ratio class k (container slice minus query slice), the worst-case
    Jaccard a true containment-t pair can have is
        j_min(k) = t / (1 + w^(k+1) - t)          [w = slice_base]
    (containment C >= t with |B| <= w^(k+1)*|A| implies
    J = C*n_a/(n_a + n_b - C*n_a) >= j_min). A class banded at r
    rows-per-band with per-class miss budget m needs
        n_req(r, m) = ceil(ln(m) / ln(1 - j_min^r))
    bands. Two measured facts drive the choice of (r, m) per class:

    - EVERY cost term scales with the band count, and ONLY the signature
      kernel scales with r: band-join shuffle rows are n_bands*(1+fan)
      per doc, true near-dup pairs (j ~ 0.95+) collide in essentially
      every band at any r in 2..5 (j^r stays ~0.8+), and the sf100
      signature pass is ~0.9 s per slot at 220 slots. Since n_req(r, m)
      GROWS with r, the cheapest admissible scheme is the SMALLEST r —
      bounded below by false positives:
    - a random pair's expected band admissions are n_req * j_bg^r
      (j_bg = CONTAIN_J_BG, measured 0.04). The smallest r whose
      admissions clear the class's cap (CONTAIN_FP_CAP_*) is chosen; at
      t=0.95 that lands r=4 for the same-size class (r=3's 1.1e-3 per
      pair over the near-dup-cluster stratum would feed the verify join
      millions of background candidates) and r=3 for class 1 (measured
      fine at 3.3e-3 in round 9). r=1 is REFUSED on principle: a
      single-minhash band collides with probability equal to raw
      Jaccard — the quadratic all-pairs scan wearing an LSH costume
      (measured 86%+ band-collision rate at j_bg~0.04).

    `max_miss` is a GLOBAL miss budget, allocated across classes by the
    pair-mass prior p_k ~ CONTAIN_PRIOR_DECAY^k: the allocator searches
    a small per-class miss grid under sum(p_k * m_k) <= max_miss (each
    m_k <= CONTAIN_MISS_CAP) and keeps the allocation minimizing
        W_SLOT * max_r(r * n_r)  +  sum_r n_r * (1 + fan_r)
    (W_SLOT = 0.7: sf100 measured ~0.9 s/slot signature vs ~1.3 s/unit
    band stage). Shallow classes carry almost all true pairs, so they
    keep tight budgets; deep classes trade a slightly higher miss for
    materially fewer bands — exactly the slot-driver relief: at t=0.95
    the r=3 group's band count (the 256-pool slot ceiling) drops 51->41.

    Classes the signature cannot band at r >= 2 (or whose background
    admissions exceed the cap at every feasible r) are NOT silently
    dropped: containment_lsh routes deeper ratio classes to the exact
    asymmetric prefix-filter arm — banding a class like j_min=0.118 (8x
    containers at t=0.95) would take 378 bands at r=2, whose background
    collision rate 1-(1-j_bg^2)^378 ~ 0.45 IS the all-pairs scan again;
    no signature length fixes that, the honest deep-asymmetry path is
    the inverted index.

    Parameter domains are enforced: max_miss in (0, 1) — at >= 1 every
    class is admissible and the loop never terminates; slice_base > 1 —
    at <= 1 j_min stops decreasing with k, same hang; threshold in
    (0, 1]. Out-of-domain values raise instead of hanging the driver."""
    import itertools
    import math

    if not (0.0 < max_miss < 1.0):
        raise ValueError(f"max_miss must be in (0, 1), got {max_miss}")
    if not (slice_base > 1.0):
        raise ValueError(f"slice_base must be > 1, got {slice_base}")
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")

    def options(k: int) -> list[tuple[float, int, int]]:
        """feasible (miss, r, n_req) for class k: per miss-grid point,
        the smallest r in 2..16 meeting the class's background-admission
        cap within the signature; empty -> the class cannot be banded."""
        j_min = threshold / (1 + slice_base ** (k + 1) - threshold)
        cap = CONTAIN_FP_CAP_CLASS0 if k == 0 else CONTAIN_FP_CAP_DEEPER
        out = []
        for g in (0.25, 0.5, 1.0, 2.0, 3.0, 4.0):
            m = min(g * max_miss, CONTAIN_MISS_CAP)
            for r in range(2, min(16, n_hash // 2) + 1):
                hit = 1.0 - j_min**r
                if hit >= 1.0:
                    # per-band hit probability underflowed to 0 (deep
                    # class, tiny j_min): no finite band count can serve
                    # this r — and larger r only underflow harder
                    break
                n_req = math.ceil(math.log(m) / math.log(hit))
                if r * n_req > n_hash:
                    continue
                if n_req * CONTAIN_J_BG**r > cap:
                    continue
                out.append((m, r, n_req))
                break
        if not out:
            # the cap is a PREFERENCE, not a coverage cutoff: when no
            # (r, m) on the grid clears it within the signature (e.g.
            # t=0.8's class 0 needs r=4 x 344 > 256 slots), band the
            # class anyway at the LARGEST r that fits per grid point —
            # the least background admission the pool can buy (the
            # round-9 rule). Coverage beats the FP economics here;
            # callers at such thresholds accept the verify load.
            for g in (0.25, 0.5, 1.0, 2.0, 3.0, 4.0):
                m = min(g * max_miss, CONTAIN_MISS_CAP)
                for r in range(min(16, n_hash // 2), 1, -1):
                    hit = 1.0 - j_min**r
                    if hit >= 1.0:
                        continue  # underflowed: smaller r may still work
                    n_req = math.ceil(math.log(m) / math.log(hit))
                    if r * n_req <= n_hash:
                        out.append((m, r, n_req))
                        break
        return out

    # banded class range: stop at the first class with NO feasible
    # option (deeper classes only get harder) or at max_class
    per_class: list[list[tuple[float, int, int]]] = []
    k = 0
    while max_class is None or k <= max_class:
        opts = options(k)
        if not opts:
            break
        per_class.append(opts)
        k += 1
    if not per_class:
        raise ValueError(
            f"no r>=2 band scheme reaches miss<={max_miss} at t={threshold} "
            f"with {n_hash} hashes — use containment_pairs (exact) or a "
            "longer signature"
        )

    weights = [CONTAIN_PRIOR_DECAY**i for i in range(len(per_class))]
    priors = [w / sum(weights) for w in weights]
    W_SLOT = 0.7

    def grouped(combo) -> dict[int, tuple[int, list[int]]]:
        sch: dict[int, tuple[int, list[int]]] = {}
        for kk, (_, r, n_req) in enumerate(combo):
            n_bands, classes = sch.get(r, (0, []))
            # one physical scheme per r: the deepest class in the group
            # fixes the band count (extra bands only lower the others')
            sch[r] = (max(n_bands, n_req), classes + [kk])
        return sch

    best, best_cost = None, None
    if len(per_class) <= 6:
        # exhaustive over the per-class miss grid — at the operator's
        # real class counts (max_class caps banding at 2-4 classes) this
        # is a few thousand combos. The grid is EXPONENTIAL in class
        # count, so a near-1 slice_base (which mints a class per tiny
        # size ratio — hypothesis found w=1.05 producing dozens) must
        # not reach it; deeper tables take the flat fallback below.
        for combo in itertools.product(*per_class):
            if sum(p * m for p, (m, _, _) in zip(priors, combo)) > max_miss * (
                1 + 1e-9
            ):
                continue
            sch = grouped(combo)
            slots = max(r * nb for r, (nb, _) in sch.items())
            units = sum(nb * (1 + len(ks)) for nb, ks in sch.values())
            cost = W_SLOT * slots + units
            if best_cost is None or cost < best_cost:
                best, best_cost = sch, cost
    if best is None:
        # the grid cannot meet the global budget (pathologically small
        # max_miss, or a class whose only cap-feasible options sit above
        # it): fall back to each class's option closest to max_miss —
        # the flat-budget corner the round-9 table used
        best = grouped(
            [min(opts, key=lambda o: abs(o[0] - max_miss)) for opts in per_class]
        )
    return best


def _containment_reps(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(reps, members) — one representative doc per DISTINCT SHINGLE SET
    (reps: (doc, hs)), plus the rep-doc -> member map (members:
    (rep, doc)), both unpersisted projections of the corpus shingle
    relation (_corpus_shingles), whose rep column names each doc's
    representative.

    Containment is a pure function of the two shingle sets, so docs with
    identical sets are interchangeable in BOTH pair positions — banding
    them all is the classic LSH duplicate-mass blowup: an exact-dup
    cluster of m docs puts m rows in every one of its band buckets and
    m^2 rows through every band join. Collapsing to representatives makes
    the candidate stage scale with DISTINCT content; the (quadratic, but
    output-sized) member expansion happens after exact verification."""
    rel = _corpus_shingles(df, text_col, id_col)
    reps = rel.where(F.col("doc") == F.col("rep")).select("doc", "hs")
    members = rel.select("rep", "doc")
    return reps, members


def _containment_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_slots: int = N_CONTAIN_MINHASH,
) -> DataFrame:
    """(doc, n, mhs) per representative — the DEDICATED containment
    signature (a prefix of the 256-perm CONTAIN_A/B pool), persisted and
    memoized per slot count. Separate from the 48-perm Jaccard pool:
    deep ratio classes need band counts (44+51+94 at t=0.95) a 48-hash
    signature cannot host. Runs on representatives only, so the Arrow
    pass scales with distinct content; computing only the slots the
    caller's band schemes actually index (threshold-dependent — 195 of
    256 at t=0.9) trims both the numpy kernel and the Arrow transfer,
    which bound this stage."""

    def build() -> DataFrame:
        reps, _ = _containment_reps(df, text_col, id_col)
        mh = minhash_signature_udf(CONTAIN_A[:n_slots], CONTAIN_B[:n_slots])
        return reps.select(
            "doc",
            F.size("hs").alias("n"),
            mh(
                F.transform("hs", lambda h: F.pmod(h, F.lit(MERSENNE_P)))
            ).alias("mhs"),
        ).persist()

    return memo.cached(df, "containment_sig256", text_col, id_col, n_slots, build=build)


def _inner_small_gate(
    spark,
    schemes: dict,
    threshold: float,
    slice_base: float,
    n_inner: int,
    inner_prefix_toks: int,
) -> bool:
    """Estimated-broadcast-bytes gate for the small-inner map-side
    filters (ADVICE r11: F.broadcast bypasses autoBroadcastJoinThreshold,
    so a doc-count gate risks executor OOM with large documents instead
    of a plan fallback). Band keys = n_inner x per-doc band fan (incl.
    the owner scheme's negative classes), prefix tokens from the prune
    pass's agg, at the MEASURED per-key cost of a single-long-column
    broadcast hash relation — 64 bytes/key (ADVICE r12 calibration:
    BroadcastExchange dataSize for a distinct xxhash64 column was 67.1
    B/key at 1M and 4M keys, 83.9 at 100k; LongHashedRelation sizes its
    key map in power-of-two pages, so 64 is the asymptote and small
    relations are nowhere near any cap) — capped at 4x the session's
    autoBroadcastJoinThreshold with a 256 MB floor (explicit broadcasts
    are a deliberate choice, but bounded by the knob operators already
    tune per-cluster; the floor keeps the measured 5M-doc campaign
    regime — ~1M keys = 64 MB — ON)."""
    import math as _math

    k_min_est = min(k for _, ks in schemes.values() for k in ks)
    k_neg_est = int(_math.floor(_math.log(threshold) / _math.log(slice_base)))
    keys_per_doc = sum(
        n_bands
        * (len(ks) + (max(0, k_min_est - k_neg_est) if min(ks) == k_min_est else 0))
        for n_bands, ks in schemes.values()
    )
    est_bytes = 64 * (n_inner * keys_per_doc + inner_prefix_toks)
    cap = max(
        256 * 1024**2,
        4
        * _conf_bytes(
            spark, "spark.sql.autoBroadcastJoinThreshold", 10 * 1024**2
        ),
    )
    return est_bytes <= cap


def _size_slice(n: Column, slice_base: float) -> Column:
    """Geometric size slice floor(log_w(n)) of a shingle-set size. Every
    side that compares slices computes it through this one expression, so
    boundary rounding cannot disagree."""
    import math as _math

    return F.floor(
        F.log2(n.cast("double")) / F.lit(_math.log2(slice_base))
    ).cast("int")


def _band_keys(
    schemes: dict[int, tuple[int, list[int]]], k_neg: int
) -> tuple[Column, Column]:
    """(query-side, container-side) band-key arrays over a frame with
    ``slice`` and ``mhs`` columns: every scheme's keys in one array per
    side, so all schemes share one explode, one join and one distinct.

    Scheme r's band b is global band offset_r + b, and its key is
    xxhash64(offset_r + b, the band's r signature values, slice_key). The
    container side keys by its own slice; the query side fans each band
    out to slice + k for the scheme's ratio classes {k}. A query and a
    container therefore share a key exactly when they agree on the global
    band, its values and a slice gap in the scheme's classes. The global
    band index namespaces bands and schemes: equal values at another band
    index or in another scheme never share a key (barring a 64-bit hash
    collision, which only adds a candidate the exact verify drops). A
    band collision between docs whose size gap is outside the scheme's
    classes (notably same-size near-dup mass in the deeper scheme's
    bands) never becomes a join row.

    Negative classes (containers slightly SMALLER than the query, bounded
    by n_b >= t*n_a: slice gap >= k_neg = floor(log_w t)) ride with the
    scheme owning the shallowest class: any scheme serving class k is
    recall-safe for every k' < k (j_min only rises as k falls), and that
    owner is the tightest such scheme.

    Each scheme is one higher-order expression per side (a transform over
    its band indices), so the plan does not grow with the band count."""
    k_min = min(k for _, ks in schemes.values() for k in ks)
    a_parts, b_parts = [], []
    offset = 0
    for r in sorted(schemes, reverse=True):
        n_bands, classes = schemes[r]
        negs = list(range(k_neg, k_min)) if min(classes) == k_min else []
        ks = negs + list(classes)
        bands = F.sequence(F.lit(0), F.lit(n_bands - 1))

        def key(b: Column, slice_key: Column, off: int = offset, r: int = r) -> Column:
            return F.xxhash64(b + off, F.slice("mhs", b * r + 1, r), slice_key)

        a_parts.append(
            F.flatten(
                F.transform(
                    bands,
                    lambda b: F.array(*[key(b, F.col("slice") + k) for k in ks]),
                )
            )
        )
        b_parts.append(F.transform(bands, lambda b: key(b, F.col("slice"))))
        offset += n_bands
    return F.concat(*a_parts), F.concat(*b_parts)


def _deep_containment_candidates(
    reps_sl: DataFrame,
    threshold: float,
    k_floor: int,
    inner_ok: DataFrame | None = None,
    outer_ok: DataFrame | None = None,
    inner_small: bool = False,
    tok_df: DataFrame | None = None,
    slice_bounds: tuple[int | None, int | None] | None = None,
) -> DataFrame:
    """EXACT candidate generation for the deep-asymmetry stratum
    (slice_b - slice_a > k_floor) — the asymmetric prefix filter of
    containment_pairs, restricted to cross-slice pairs. Banding cannot
    serve this stratum: its Jaccard floor is so low that the required
    band count collides on background similarity (see
    _containment_band_schemes) — but the inverted index CAN, because the
    stratum is the thin tail of the size distribution:

    - only docs that could have a >k_floor-slices-larger container
      explode prefixes (slice <= max_slice - k_floor - 1);
    - only docs that could BE such a container post their tokens
      (slice >= min_slice + k_floor + 1) — the full-corpus posting list
      never materializes;
    - one token-keyed shuffle per side, with the stratum condition
      (slice_b >= slice_a + k_floor + 1), the size gate, and the
      positional bound evaluated INSIDE the join: a shared common token
      between two similar-size docs is evaluated-and-dropped by the join
      predicate, never emitted (the round-9 shape keyed the join on
      (tok, slice) instead, which cost a 2-3x a-side slice fan plus a
      second b-side shuffle for a ptoks semi-join — round-10 measured
      the one-shuffle predicate form strictly cheaper at sf100);
    - the q-gram multi-match gate below then collapses background
      shared-token rows, and candidates verify exactly downstream.

    reps_sl: (doc, hs, n, slice) representatives. ``inner_ok`` /
    ``outer_ok`` (optional single-column (doc) frames) restrict each join
    side to pair-eligible docs — see containment_lsh's prune_unique for
    the exactness argument. ``slice_bounds`` is (min slice over the inner
    side, max slice over the outer side), which the prune pass's stats
    agg computes over the ELIGIBLE sides (an ineligible extreme doc cannot
    form a deep pair, so shrinking the window is lossless); without it
    one agg takes both bounds over all of ``reps_sl``. Lossless for its
    stratum — the overall operator's recall loss is confined to the
    banded shallow classes' per-class <= max_miss."""
    a_reps = (
        reps_sl.join(inner_ok, "doc", "left_semi") if inner_ok is not None else reps_sl
    )
    b_reps = (
        reps_sl.join(outer_ok, "doc", "left_semi") if outer_ok is not None else reps_sl
    )
    if slice_bounds is None:
        lo_v, hi_v = reps_sl.agg(F.min("slice"), F.max("slice")).collect()[0]
    else:
        lo_v, hi_v = slice_bounds
    if lo_v is None or hi_v is None or hi_v - lo_v <= k_floor:
        # no pair of slices spans the deep stratum — empty, typed off the
        # input so any id type unions cleanly with the banded candidates
        return reps_sl.select(
            F.col("doc").alias("doc_inner"), F.col("doc").alias("doc_outer")
        ).limit(0)
    hi = int(hi_v)
    lo = int(lo_v)
    # global token order = ascending shingle hash (array_sort, zero
    # shuffles). Prefix/positional filtering only needs SOME consistent
    # total order on both sides; the classic rare-first order buys a
    # smaller candidate set at the price of a corpus-wide frequency
    # aggregate + per-doc re-sort (3 extra exchanges) — with the q=2
    # multi-match gate below carrying the background-selectivity load,
    # hash order keeps the join volume acceptable and the plan 3 stages
    # shorter.
    sorted_a = a_reps.select(
        "doc", "n", "slice", F.array_sort("hs").alias("sorted_sh")
    )
    sorted_b = b_reps.select(
        "doc", "n", "slice", F.array_sort("hs").alias("sorted_sh")
    )

    def req_overlap(n):
        return F.ceil(n * F.lit(threshold) - F.lit(1e-9))

    if inner_small and tok_df is not None:
        # RARE-FIRST PREFIX, SMALL-INNER BRANCH (round-11; measured on the
        # 5M-doc zipf probe): with hash-ordered prefixes, an inner doc's
        # prefix holds arbitrary tokens — including corpus HEAD tokens
        # whose posting lists are huge, so the tok-equi-join streams
        # sum(df_a(t) * df_b(t)) pair rows, quadratic in head-token df
        # (the q-match groupBy's hash-agg spill over that stream is what
        # filled the disk at 5M docs). Two exact moves collapse it:
        # 1. each inner's prefix = its GLOBALLY RAREST (n - req + q)
        #    tokens (df ascending, tok tiebreak) — the classic
        #    prefix-filter order, affordable here because rarity is
        #    joined only against the SMALL inner side (tok_df is the
        #    prune pass's by-product);
        # 2. the positional bound is dropped. The pigeonhole only needs
        #    a FIXED order of A's own tokens: if |A ∩ B| >= req, at most
        #    req - q qualifying tokens sit outside A's (n - req + q)-
        #    prefix, so >= min(q, req) matches land inside it whatever
        #    order B is scanned in. Dropping the bound is lossless (it
        #    only ever removed candidates exact verify would also
        #    remove); rare prefixes make the admitted background tiny.
        a_pref = (
            a_reps.select("doc", "n", "slice", F.explode("hs").alias("tok"))
            .join(tok_df, "tok", "left")
            .withColumn("__df", F.coalesce(F.col("__df"), F.lit(1)))
            .withColumn(
                "__rk",
                F.row_number().over(
                    Window.partitionBy("doc").orderBy("__df", "tok")
                ),
            )
            .where(
                F.col("__rk")
                <= F.greatest(
                    (F.col("n") - req_overlap(F.col("n")) + CONTAIN_DEEP_Q).cast(
                        "int"
                    ),
                    F.lit(1),
                )
            )
            .where(F.col("slice") <= F.lit(hi - k_floor - 1))
            .select(
                F.col("doc").alias("doc_inner"),
                F.col("n").alias("n_a"),
                F.col("slice").alias("slice_a"),
                "tok",
            )
        )
        b_post = (
            b_reps.where(F.col("slice") >= F.lit(lo + k_floor + 1))
            .select(
                F.col("doc").alias("doc_outer"),
                F.col("n").alias("n_b"),
                F.col("slice").alias("slice_b"),
                F.explode("hs").alias("tok"),
            )
            .join(F.broadcast(a_pref.select("tok").distinct()), "tok", "left_semi")
        )
        return (
            a_pref.join(
                b_post,
                (a_pref["tok"] == b_post["tok"])
                & (F.col("slice_b") >= F.col("slice_a") + F.lit(k_floor + 1))
                & (F.col("n_b") >= req_overlap(F.col("n_a"))),
            )
            .groupBy("doc_inner", "n_a", "doc_outer")
            .agg(F.count(F.lit(1)).alias("__m"))
            .where(
                F.col("__m")
                >= F.least(F.lit(CONTAIN_DEEP_Q), req_overlap(F.col("n_a")))
            )
            .select("doc_inner", "doc_outer")
        )

    # q-MATCH REQUIREMENT (PPJoin-family q-gram lower bound): if
    # |A∩B| >= req then among A's first n - req + q tokens at least
    # min(q, req) are in B (pigeonhole), and the q-th such match at
    # positions (i, j) satisfies q + min(n_a - i, n_b - j) >= req. So the
    # prefix is q-1 tokens longer, each shared-token row passes the
    # q-slack positional bound, and a pair must produce >= min(q, req)
    # rows to become a candidate. On a corpus with correlated vocabulary
    # a single shared token is weak evidence (measured at sf0.1: 168k
    # single-match deep candidates for 0 true deep pairs; q=2 left 3.1M
    # at sf10); each additional independently-shared token cuts the
    # background geometrically while staying lossless for true pairs.
    # TOK-ONLY EQUI-JOIN with the stratum/size/positional conditions as
    # join predicates (round-10, measured at sf100): the old shape keyed
    # the join on (tok, slice_key), which required (a) fanning every
    # a-side prefix row out over its admissible container slices (~2-3x
    # row replication) and (b) shuffling the b-side TWICE — once for a
    # ptoks left-semi, again on the composite key. One shuffle per side
    # on the bare token, with `slice_b >= slice_a + k_floor + 1` (the
    # stratum), the size gate, and the positional bound evaluated INSIDE
    # the join, moves strictly fewer bytes; same-size doc pairs sharing a
    # prefix token are now evaluated-and-dropped by the join condition
    # rather than never meeting — the q>=2 multi-match gate downstream is
    # unchanged and the candidate set is row-identical (equality over the
    # emitted predicate set).
    a = (
        sorted_a.where(F.col("slice") <= F.lit(hi - k_floor - 1))
        .withColumn(
            "prefix",
            F.slice(
                F.col("sorted_sh"),
                1,
                F.greatest(
                    (
                        F.col("n") - req_overlap(F.col("n")) + CONTAIN_DEEP_Q
                    ).cast("int"),
                    F.lit(1),
                ),
            ),
        )
        .select("doc", "n", "slice", F.posexplode("prefix").alias("pos", "tok"))
        .select(
            F.col("doc").alias("doc_inner"),
            F.col("n").alias("n_a"),
            F.col("slice").alias("slice_a"),
            (F.col("pos") + 1).alias("i"),
            "tok",
        )
    )
    b = (
        sorted_b.where(F.col("slice") >= F.lit(lo + k_floor + 1))
        .select("doc", "n", "slice", F.posexplode("sorted_sh").alias("pos", "tok"))
        .select(
            F.col("doc").alias("doc_outer"),
            F.col("n").alias("n_b"),
            F.col("slice").alias("slice_b"),
            (F.col("pos") + 1).alias("j"),
            "tok",
        )
    )
    if inner_small:
        # SMALL-INNER BROADCAST FILTER (round-11, exact): when the
        # pair-free prune leaves a small inner side, the a-side prefix
        # token set is broadcast-sized (n_inner x prefix length), and a
        # b-side posting row whose token appears in NO a-side prefix can
        # never produce a join row — so the corpus-wide b posting explode
        # is semi-joined against the broadcast token set BEFORE any
        # shuffle. This is what keeps the deep arm's shuffle volume
        # candidate-sized instead of corpus-sized on a naturally
        # size-spread corpus (the zipf f1000 run shuffled tens of GB of
        # b postings for ~20M surviving rows without it).
        b = b.join(F.broadcast(a.select("tok").distinct()), "tok", "left_semi")
    return (
        a.join(
            b,
            (a["tok"] == b["tok"])
            & (F.col("slice_b") >= F.col("slice_a") + F.lit(k_floor + 1))
            & (F.col("n_b") >= req_overlap(F.col("n_a")))
            & (
                (
                    CONTAIN_DEEP_Q
                    + F.least(F.col("n_a") - F.col("i"), F.col("n_b") - F.col("j"))
                )
                >= req_overlap(F.col("n_a"))
            ),
        )
        .groupBy("doc_inner", "n_a", "doc_outer")
        .agg(F.count(F.lit(1)).alias("__m"))
        .where(
            F.col("__m")
            >= F.least(F.lit(CONTAIN_DEEP_Q), req_overlap(F.col("n_a")))
        )
        .select("doc_inner", "doc_outer")
    )


def containment_lsh(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    slice_base: float = 2.0 ** 0.5,
    max_miss: float = 5e-3,
    prune_unique: bool = True,
) -> DataFrame:
    """Sub-quadratic twin of containment_pairs: LSH-Ensemble banded
    candidates over a DEDICATED 256-perm signature for bounded size
    ratios, the exact asymmetric prefix filter for the deep tail, and
    duplicate-mass collapse — with exact verification, so precision is
    exactly 1 and the output schema/rows match the exact operator on any
    corpus whose true pairs clear the banded classes' miss allocation
    (expected miss <= max_miss under the pair-mass prior, every class
    <= CONTAIN_MISS_CAP; the deep stratum is lossless).

    Four structural moves, each answering a measured scale defect:

    1. REPRESENTATIVE COLLAPSE (_containment_reps): candidates are
       generated over one representative per distinct shingle set.
       Pre-fix, candidate volume tracked duplication mass (alpha=1.20 at
       sf100): an exact-dup cluster of m docs multiplied every band
       bucket by m and every band join by m^2. Post-fix the band stage
       scales with distinct content; member pairs expand AFTER exact
       verification (intra-cluster pairs are emitted directly — identical
       sets have containment exactly 1.0).
    2. DEDICATED SIGNATURE POOL (N_CONTAIN_MINHASH=256, CONTAIN_A/B)
       tuned by _containment_band_schemes' round-10 cost model: per
       class the smallest r clearing its background-admission cap, band
       counts from the prior-weighted global miss budget — at t=0.95
       that is r=4 x 31 (same-size) + r=3 x 41 (to-2x), 124 slots / 72
       bands vs the round-9 flat table's 220 / 95. The shared 48-perm
       Jaccard pool capped coverage at 2x containers AND forced r=2
       everywhere.
    3. ONE BAND RELATION OF SINGLE-LONG-KEY ROWS: each band row is
       (xxhash64(global band, band values, slice_key), doc) — the
       shuffle that IS the band stage's cost (measured: candidate counts
       are 100x smaller than the explode) moves 16-byte rows; the size
       gate joins candidate-scale instead of riding every row. Every
       scheme's keys come from one higher-order expression per side
       (_band_keys), so all schemes share one explode per side, one join
       and one distinct, and the band stage materializes once: into the
       union-level candidate checkpoint, which truncates the band join's
       lineage for every downstream consumer (the verify join, the memo,
       a held result).
    4. EXACT DEEP ARM (_deep_containment_candidates): ratio classes past
       banded coverage use the inverted-index prefix filter restricted
       to the cross-slice stratum — deep asymmetry has Jaccard floors
       banding fundamentally cannot separate from background (an
       r=2/378-band scheme would collide on ~45% of ALL pairs), while
       the size-tail restriction keeps the index join tiny. Round-10
       re-shape: one token-keyed shuffle per side with the stratum in
       the join predicate (see its docstring). Full ratio coverage, no
       silent cutoff.

    Why symmetric MinHash banding alone can't do containment: a short doc
    quoted in a much larger one has containment ~1 but Jaccard ~n_a/n_b,
    below any fixed banding threshold. LSH Ensemble's move (public art:
    Zhu et al., VLDB 2016) is to partition by SET SIZE — within a bounded
    size-ratio class the containment threshold maps to a Jaccard floor a
    class-specific band scheme can serve. Reads the corpus shingle
    relation (_corpus_shingles) every shingle consumer shares: one corpus
    pass, memoized."""
    reps, members = _containment_reps(df, text_col, id_col)
    # SHARED CANDIDATE RELATION ACROSS ARMS (optimization r14, VERDICT
    # r13 next #2; the lsh_pairs / _freq_sorted_docs pattern): the
    # checkpointed candidate pair set is memoized per (corpus, threshold,
    # slice_base, max_miss) — deliberately NOT per prune_unique. The
    # df>=2 prune is EXACT (see prune_unique below: it only removes docs
    # that cannot appear in any verified pair), and banding is a
    # deterministic function of the memoized signatures, so the pruned
    # and unpruned candidate sets differ only by pairs the exact verify
    # downstream rejects — verified output is row-identical whichever
    # arm built the entry (pinned by test_containment_candidate_memo_*
    # and both arms sharing one oracle hash). Cold mode / cache clears
    # price the build; the verify + member expansion still run per call.
    candidates = memo.cached(
        df, "containment_cand", text_col, id_col, threshold, slice_base, max_miss,
        build=lambda: _containment_candidates(
            df, reps, threshold, text_col, id_col, slice_base, max_miss,
            prune_unique,
        ),
    )

    sha = reps.select(F.col("doc").alias("doc_inner"), F.col("hs").alias("hs_a"))
    shb = reps.select(F.col("doc").alias("doc_outer"), F.col("hs").alias("hs_b"))
    ratio = (
        F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b"))).cast("double")
        / F.size("hs_a")
    )
    rep_pairs = (
        candidates.join(sha, "doc_inner")
        .join(shb, "doc_outer")
        .withColumn("__r", ratio)
        .where(F.col("__r") >= threshold)
        .select(
            "doc_inner",
            "doc_outer",
            F.round(F.col("__r"), 6).alias("containment"),
        )
    )
    # expand verified representative pairs to member pairs (distinct
    # shingle sets have distinct reps, so member ids never collide), and
    # emit intra-set pairs directly: identical sets have containment
    # exactly 1. members is keyed by rep doc — two equi-joins, no
    # digest indirection.
    expanded = (
        rep_pairs.join(
            members.select(
                F.col("rep").alias("doc_inner"), F.col("doc").alias("m_i")
            ),
            "doc_inner",
        )
        .join(
            members.select(
                F.col("rep").alias("doc_outer"), F.col("doc").alias("m_o")
            ),
            "doc_outer",
        )
        .select(
            F.col("m_i").alias("doc_inner"),
            F.col("m_o").alias("doc_outer"),
            "containment",
        )
    )
    intra = (
        members.select("rep", F.col("doc").alias("doc_inner"))
        .join(members.select("rep", F.col("doc").alias("doc_outer")), "rep")
        .where(F.col("doc_inner") != F.col("doc_outer"))
        .select(
            "doc_inner", "doc_outer", F.lit(1.0).alias("containment")
        )
    )
    return expanded.unionByName(intra)


def _containment_candidates(
    df: DataFrame,
    reps: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
    slice_base: float,
    max_miss: float,
    prune_unique: bool,
) -> DataFrame:
    """Build containment_lsh's checkpointed candidate pair set (band
    schemes + pair-free pruning + the exact deep arm) — the body
    containment_lsh memoizes. Returns an eagerly
    localCheckpoint'ed (doc_inner, doc_outer) relation with every
    intermediate (prune frame, tok_df) already released."""
    import math as _math

    schemes = _containment_band_schemes(
        threshold,
        slice_base,
        max_miss,
        N_CONTAIN_MINHASH,
        max_class=contain_band_boundary(
            threshold, slice_base, max_miss, N_CONTAIN_MINHASH
        ),
    )
    # compute only the signature slots the schemes index (each scheme r
    # reads slots [0, r*n_bands); they overlap deliberately — buckets are
    # namespaced by the global band offset, so cross-scheme slot reuse
    # never aliases a bucket key)
    n_slots = max(r * n_bands for r, (n_bands, _) in schemes.items())
    sig = _containment_signatures(df, text_col, id_col, n_slots=n_slots).withColumn(
        "slice", _size_slice(F.col("n"), slice_base)
    )
    k_band = max(k for _, ks in schemes.values() for k in ks)

    # PAIR-FREE df>=2 PRUNING (round-11, the lever round 10 proved exact
    # but could only reject as vacuous on the 30-word-vocabulary fixture):
    # a shingle appearing in exactly ONE distinct shingle set (rep-level
    # document frequency 1) contributes nothing to ANY cross-rep
    # intersection, so
    #   max_B containment(A, B) = max_B |A n B| / |A| <= shared_n(A)/|A|
    # where shared_n counts A's shingles with df >= 2. A rep with
    # shared_n < ceil(t*n_a) can never be the INNER doc of a verified
    # pair, and a rep with shared_n = 0 can never be the OUTER doc of one
    # (t > 0 forces |A n B| >= 1) — both prunes are therefore EXACT: the
    # output is row-identical with pruning on or off, only the band
    # explode / deep-arm volume changes. Cost is one shingle-keyed
    # df aggregate + one doc-keyed count (two corpus-sized shuffles of
    # 16-byte rows); the savings are the pruned docs' (n_bands x fan)
    # band rows and deep prefixes. MEASURED (BASELINE.md round 11, Zipf
    # ~50k-term corpus, 500k docs + planted 4x/8x containers): unpruned
    # DNF at 1800 s (the head-shingle background floods the banded
    # candidate stage), pruned 41.8 s with 1000/1000 planted containers
    # recalled — hence default ON. On dup-heavy/small-vocabulary corpora
    # the adaptive vacuity drop below reduces the lever to one df pass
    # (both filters keep ~everything and are dropped). Intra-dup pairs
    # are unaffected (they are emitted from the member map, not the
    # candidate stages).
    inner_ok = outer_ok = None
    tok_df = None
    prune_frame = None
    slice_bounds = None
    if prune_unique and threshold > 0:
        toks = reps.select("doc", F.explode("hs").alias("tok"))
        # full per-token document frequency: feeds BOTH the df>=2 shared
        # set below and the deep arm's rare-first prefix order (persisted
        # — ~16 bytes/distinct shingle; the ContextCleaner unpersists it
        # when the plan is garbage-collected)
        tok_df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df")).persist()
        df2 = tok_df.where(F.col("__df") >= 2).select("tok")
        shared_n = toks.join(df2, "tok").groupBy("doc").agg(
            F.count(F.lit(1)).alias("__shared")
        )
        # one df pass, materialized once: the filters are consumed by the
        # band relation and the deep arm (4+ scans), and a lazy form would
        # re-run the corpus-sized explode per consumer. localCheckpoint
        # (eager) also truncates lineage so the semi-joins below plan
        # against a leaf, not the whole df pipeline.
        # LEFT join from reps (optimization r13): keeps zero-shared docs in
        # the frame so n_reps is one of the stats below. Filter sets are
        # unchanged: __shared=0 docs fail __inner for any threshold > 0
        # (ceil(t*n) >= 1) and are excluded from outer_ok by the
        # __shared >= 1 predicate — exactly the docs an inner join drops.
        # The stats are OBSERVED on the checkpoint's own job, not
        # collected by a second one.
        sh0 = F.coalesce(F.col("__shared"), F.lit(0))
        sl = _size_slice(F.col("__n"), slice_base)
        outer = F.col("__shared") >= 1
        obs = Observation()
        both = (
            reps.select("doc", F.size("hs").alias("__n"))
            .join(shared_n, "doc", "left")
            .select(
                "doc",
                "__n",
                sh0.alias("__shared"),
                (
                    sh0
                    >= F.ceil(F.col("__n") * F.lit(threshold) - F.lit(1e-9))
                ).alias("__inner"),
            )
            .observe(
                obs,
                F.count(F.lit(1)).alias("n_reps"),
                F.sum(outer.cast("long")).alias("n_outer"),
                F.sum(F.col("__inner").cast("long")).alias("n_inner"),
                # per-inner deep-arm prefix length: n - ceil(t*n) + q
                # tokens (the rare-first branch's explode/broadcast volume)
                F.sum(
                    F.when(
                        F.col("__inner"),
                        F.greatest(
                            F.col("__n")
                            - F.ceil(F.col("__n") * F.lit(threshold) - F.lit(1e-9))
                            + F.lit(CONTAIN_DEEP_Q),
                            F.lit(1),
                        ),
                    ).otherwise(F.lit(0))
                ).alias("inner_prefix_toks"),
                # the deep arm's slice window, over all reps and over each
                # eligible side (the vacuity drop below picks which applies)
                F.min(sl).alias("lo_all"),
                F.max(sl).alias("hi_all"),
                F.min(F.when(F.col("__inner"), sl)).alias("lo_inner"),
                F.max(F.when(outer, sl)).alias("hi_outer"),
            )
            .localCheckpoint(eager=True)
        )
        prune_frame = both
        stats = obs.get
        n_reps = int(stats["n_reps"] or 0)
        n_outer = int(stats["n_outer"] or 0)
        n_inner = int(stats["n_inner"] or 0)
        inner_prefix_toks = int(stats["inner_prefix_toks"] or 0)
        # ADAPTIVE VACUITY DROP: a filter that keeps (almost) everything
        # buys nothing and still costs one semi-join shuffle per consumer
        # — on the 30-word standard fixture BOTH filters keep ~100% and
        # the whole lever reduces to the df pass. Only wire in a side
        # whose prune rate is real.
        if n_inner < 0.95 * n_reps:
            inner_ok = both.where("__inner").select("doc")
        if n_outer < 0.95 * n_reps:
            outer_ok = both.where(outer).select("doc")
        slice_bounds = (
            stats["lo_all" if inner_ok is None else "lo_inner"],
            stats["hi_all" if outer_ok is None else "hi_outer"],
        )
    # SMALL-INNER REGIME: few docs can possibly be contained (the
    # realistic-corpus shape — most documents are mostly-unique). The
    # a-side band-key set and prefix-token set are then broadcast-sized,
    # so every corpus-wide b-side explode is semi-filtered map-side
    # against them BEFORE its shuffle: candidate generation costs one
    # corpus scan, not a corpus shuffle. The gate is ESTIMATED BROADCAST
    # BYTES, not doc count (ADVICE r11: F.broadcast bypasses
    # autoBroadcastJoinThreshold, and with large documents the per-inner
    # prefix alone is ~ n - ceil(t*n) + q tokens, so a doc-count gate
    # risks a multi-GB broadcast and executor OOM instead of a plan
    # fallback): band keys = n_inner x per-doc band fan, prefix tokens
    # from the stats above, ~32 bytes/key in a broadcast hash relation,
    # capped at 4x the session's autoBroadcastJoinThreshold (explicit
    # broadcasts are a deliberate choice, but bounded by the same knob
    # operators tune for the cluster; floor 256 MB keeps the measured
    # 5M-doc regime — ~1M keys — ON).
    inner_small = inner_ok is not None and _inner_small_gate(
        df.sparkSession, schemes, threshold, slice_base, n_inner, inner_prefix_toks
    )

    # ONE band relation for all schemes: one explode per side, one join,
    # one distinct. SINGLE-LONG-KEY SHUFFLE (round-10, measured at sf100):
    # band join rows are (key, doc) — one 8-byte join column instead of
    # the 3-column composite plus n riding along. The explode+shuffle of
    # ~440M rows was the band stage's whole cost (273 s of the 605 s
    # sf100 profile; candidate counts are 100x smaller), so shuffle bytes
    # ARE the lever. The n_b >= t*n_a size gate moves AFTER the candidate
    # distinct, where it joins the candidate-sized pair set to rep sizes
    # instead of tagging every band row. A 64-bit key collision can only
    # ADD a candidate pair, never drop one, and the exact verify
    # downstream discards it — recall is untouched.
    k_neg = int(_math.floor(_math.log(threshold) / _math.log(slice_base)))
    a_keys, b_keys = _band_keys(schemes, k_neg)
    a_sig = sig if inner_ok is None else sig.join(inner_ok, "doc", "left_semi")
    b_sig = sig if outer_ok is None else sig.join(outer_ok, "doc", "left_semi")
    a_rows = a_sig.select(
        F.col("doc").alias("doc_inner"), F.explode(a_keys).alias("key")
    )
    b_rows = b_sig.select(
        F.col("doc").alias("doc_outer"), F.explode(b_keys).alias("key")
    )
    if inner_small:
        # exact: a b band row whose key matches no a-side key can never
        # join — drop it map-side before the shuffle
        b_rows = b_rows.join(
            F.broadcast(a_rows.select("key").distinct()), "key", "left_semi"
        )
    cands = (
        a_rows.join(b_rows, "key")
        .where(F.col("doc_inner") != F.col("doc_outer"))
        .select("doc_inner", "doc_outer")
        .distinct()
    )
    # the size gate, applied at candidate scale: containers below t*n_a
    # cannot reach containment t (|A ∩ B| <= |B|)
    sizes = sig.select("doc", "n")
    cands = (
        cands.join(sizes.select(F.col("doc").alias("doc_inner"), F.col("n").alias("n_a")), "doc_inner")
        .join(sizes.select(F.col("doc").alias("doc_outer"), F.col("n").alias("n_b")), "doc_outer")
        .where(F.col("n_b") >= F.ceil(F.col("n_a") * F.lit(threshold) - F.lit(1e-9)))
        .select("doc_inner", "doc_outer")
    )

    reps_sl = reps.join(sig.select("doc", "n", "slice"), "doc")
    deep = _deep_containment_candidates(
        reps_sl, threshold, k_band, inner_ok=inner_ok, outer_ok=outer_ok,
        inner_small=inner_small, tok_df=tok_df, slice_bounds=slice_bounds,
    )
    # THE band stage's one materialization. It stays because an r13
    # variant without it measured 2.5x worse at sf0.1 (34.0 vs 13.3 s
    # median): the un-truncated band-join lineage re-plans into every
    # downstream consumer (the verify join, the memo, a held result).
    # It is candidate-sized and severs every upstream lineage edge, so it
    # also owns the cache lifecycle (VERDICT r11 wrong #4): tok_df is a
    # distinct-shingle-sized relation and this function holds the only
    # handle that can release it — the round-11 ingest measurement proved
    # derived-frame unpersists never release a parent, and leaving it to
    # ContextCleaner GC accumulates corpus-sized caches across calls in a
    # long session. It must be taken on EVERY path before the releases
    # (VERDICT r12 wrong #2: a lazy candidate plan re-executes whatever
    # still references the df-pass aggregate uncached at verify time).
    # Peak scratch is the band join of all schemes at once (at 5M docs the
    # two schemes' band shuffles together wrote ~60 GB).
    candidates = cands.unionByName(deep).distinct().localCheckpoint(eager=True)
    if tok_df is not None:
        tok_df.unpersist()
    # EAGER CHECKPOINT-BLOCK RELEASE (optimization r13, guide §5): the
    # prune pass's doc frame is consumed exactly once — into the
    # candidate checkpoint above — but its MEMORY_AND_DISK blocks would
    # otherwise live until the driver GC'd the Python handle and the
    # ContextCleaner reacted. In a long session (the bench runs the
    # operator 6+ times back-to-back) orphaned blocks stack into real
    # heap pressure: a profiled back-to-back run degraded 14.7 s -> 62.7 s
    # between consecutive invocations. The verify join reads only
    # `candidates`, reps and members, and a lifecycle bug cannot corrupt
    # results — an unpersisted localCheckpoint fails loudly
    # (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), never recomputes.
    if prune_frame is not None:
        memo.release_checkpoint(prune_frame)
    return candidates


def _dup_marked_positions(
    df: DataFrame, min_len: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc, pos) of every min_len-gram occurrence that is NOT its gram's
    global first occurrence — the shared marking pass behind
    substring_dup_spans (interval-union stats) and substring_dedup_clean
    (span excision). Gram keys are xxhash64'd in-row so the MIN aggregate
    and the join-back shuffle longs, never min_len-token strings;
    first-occurrence order is the scalar doc*2^20 + pos (LOUD failure
    past 2^20 tokens — see substring_dup_spans docstring).

    Persisted and memoized in the session memo (optimization r14, guide §5):
    the stats and clean operators run over the same corpus in one
    session, and the marking pass — the gram explode, the corpus-gram-
    scale min aggregate and the gram-keyed join back, the only corpus-
    token-scale shuffles either operator pays — is byte-identical
    between them. The memoized relation is marked-occurrence-sized
    (duplicated grams only), far below corpus scale."""
    return memo.cached(
        df, "dup_marked", min_len, text_col, id_col,
        build=lambda: _dup_marked_build(df, min_len, text_col, id_col),
    )


def _dup_marked_build(df: DataFrame, min_len: int, text_col: str, id_col: str) -> DataFrame:
    grams = (
        # the token array binds to a COLUMN before the lambda uses it: an
        # expression inside a higher-order-function body is re-evaluated
        # per element (Spark hoists nothing out of lambdas), so
        # slice(split(text)) in the gram builder would re-split the whole
        # document once PER GRAM — O(n_tokens²) work per doc
        df.select(F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("__w"))
        .select(
            "doc",
            F.explode(
                F.when(
                    F.size("__w") >= min_len,
                    F.expr(
                        f"transform(sequence(1, size(__w) - {min_len} + 1), "
                        f"p -> struct(p AS pos, "
                        f"xxhash64(array_join(slice(__w, p, {min_len}), ' ')) AS gram))"
                    ),
                ).otherwise(F.array().cast("array<struct<pos:int,gram:bigint>>"))
            ).alias("g"),
        )
        .select("doc", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    )
    # the scalar encoding is only valid for pos < 2^20: fail LOUDLY on a
    # longer doc rather than silently truncating its gram stream
    okey = F.when(
        F.col("pos") < F.lit(1 << 20), F.col("doc") * F.lit(1 << 20) + F.col("pos")
    ).otherwise(
        F.raise_error(
            F.lit(
                "substring dedup: document exceeds 2^20 tokens; the "
                "doc*2^20+pos first-occurrence encoding cannot represent it — "
                "chunk the document or widen the encoding"
            )
        ).cast("long")
    )
    first = grams.groupBy("gram").agg(F.min(okey).alias("first_key"))
    return (
        grams.join(first, "gram")
        .where(okey != F.col("first_key"))
        .select("doc", "pos")
        .persist()
    )


def substring_dedup_clean(
    df: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The OUTPUT side of exact-substring dedup (Lee et al. 2022): excise
    every token covered by a duplicated min_len-gram span (union of the
    marked [pos, pos+min_len) intervals, global first occurrence kept)
    and emit the cleaned corpus — `substring_dup_spans` is the analysis
    view, this is what the pipeline writes downstream.

    Returns (doc_id, clean_text, n_tokens, n_removed) for every corpus
    row: clean_text is the surviving tokens rejoined on single spaces
    (bit-identical to the input when nothing is excised — single-space
    split/join is lossless), '' when the whole doc is duplicated text,
    NULL for NULL input text.

    Plan shape (optimization r13, guide §2.2 — shuffle marked STARTS, not
    tokens): the shared marking pass (gram explode, min agg, long-keyed
    join back), then ONE doc-keyed aggregation of the marked start
    positions, and everything else in-row on the doc's own token array.
    The covered-position set expands from the starts inside the row
    (flatten of per-start sequences + array_distinct), surviving
    positions come from array_except(sequence(1, n), covered) — a
    hash-set difference that preserves the left argument's order — and
    tokens rebuild by O(1) element_at indexing. The prior form shuffled
    corpus-TOKEN-scale rows three times (covered explode + distinct, a
    (doc, pos) anti-join, and a collect_list + sort rebuild per doc); all
    three are gone, and the one remaining shuffle carries ~n_marked_grams
    rows, min_len x fewer than the exploded covered set alone. No UDFs;
    per-row memory is bounded by the token array the doc already
    carried in its text."""
    dups = _dup_marked_positions(df, min_len, text_col, id_col)
    # one row per marked gram occurrence (distinct (doc, pos) by
    # construction) — the only shuffle past the marking pass
    starts = dups.groupBy("doc").agg(F.collect_list("pos").alias("__starts"))
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("__starts"),
                lambda s: F.sequence(s, s + F.lit(min_len - 1)),
            )
        )
    )
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("__text"),
        F.split(F.col(text_col), " ").alias("__w"),
    )
    kept_pos = F.array_except(F.sequence(F.lit(1), F.size("__w")), F.col("__cov"))
    return (
        base.join(starts, base[id_col] == starts["doc"], "left")
        .withColumn("__cov", covered)
        .select(
            F.col(id_col),
            F.when(F.col("__text").isNull(), F.lit(None).cast("string"))
            .when(F.col("__cov").isNull(), F.col("__text"))
            .otherwise(
                F.array_join(
                    F.transform(kept_pos, lambda p: F.element_at(F.col("__w"), p)),
                    " ",
                )
            )
            .alias("clean_text"),
            F.size("__w").alias("n_tokens"),
            F.coalesce(F.size("__cov"), F.lit(0)).cast("bigint").alias("n_removed"),
        )
    )


def substring_dup_spans(
    df: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring dedup statistics (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" semantics,
    re-expressed distributed): any token span of length >= min_len that
    already occurred earlier in the corpus — in another doc OR earlier in
    the SAME doc (self-repetition) — is a duplicate span to excise. The
    suffix-array formulation is inherently sequential; the distributed
    equivalent enumerates all min_len-grams with positions, keeps each
    gram's GLOBAL first occurrence (min (doc, pos)), marks every other
    occurrence, and measures per doc the UNION of the marked [pos,
    pos+min_len) intervals (a span of length s >= min_len duplicated
    elsewhere marks all its s - min_len + 1 grams, whose interval union
    is exactly s — so the stat equals duplicated-span tokens, not gram
    counts). Returns (doc_id, n_tokens, n_removed, pct_removed) for every
    doc.

    Plan shape: one in-row gram explode (no self-join), one map-side
    combinable min aggregate per gram, one join back on the gram key, ONE
    doc-keyed aggregation of the marked start positions with the interval
    union computed IN-ROW (optimization r14, the substring_dedup_clean
    shape from r13: |union of [pos, pos+min_len)| ==
    size(array_distinct(flatten(per-start sequences))) — the ordered
    window + running-max contribution sum it replaces computed the same
    integer, one per-doc sort slower), one left join to re-attach
    zero-dup docs. Gram keys are xxhash64'd in-row — the MIN aggregate
    and the join-back shuffle longs, never 8-token strings (keys are
    internal only; same ~2^-64 collision caveat as ngram_jaccard
    verification, and the string-keyed oracle would catch one).

    First-occurrence order is (doc_id, pos) encoded as doc_id*2^20 + pos
    — one scalar min instead of a struct min; valid while docs stay under
    2^20 tokens (a 1M-token doc is not a training document). The guard is
    LOUD: a longer doc raises mid-plan instead of silently dropping its
    tail grams (which would both undercount and misattribute first
    occurrences); doc_id >= 2^43 likewise errors via ANSI overflow."""
    w = F.split(F.col(text_col), " ")
    n = F.size(w)
    dups = _dup_marked_positions(df, min_len, text_col, id_col)
    # interval-union size in-row: the union of the marked [pos,
    # pos+min_len) intervals is exactly the distinct covered-position
    # set, so its size comes from one hash-aggregate + in-row array ops
    # — no per-doc sort, no window (the prior running-max form computed
    # the identical integer through an ordered window). Same covered-set
    # expansion substring_dedup_clean ships; per-row memory is bounded
    # by min_len x the doc's own marked starts.
    covered = (
        dups.groupBy("doc")
        .agg(F.collect_list("pos").alias("__starts"))
        .select(
            "doc",
            F.size(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            F.col("__starts"),
                            lambda s: F.sequence(s, s + F.lit(min_len - 1)),
                        )
                    )
                )
            ).alias("n_removed"),
        )
    )
    docs = df.select(F.col(id_col).alias("doc"), n.cast("bigint").alias("n_tokens"))
    return (
        docs.join(covered, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.round(
                F.coalesce(F.col("n_removed"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("pct_removed"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (scale path)
# ---------------------------------------------------------------------------

def minhash_signature_udf(a_consts=None, b_consts=None):
    """Arrow-vectorized minhash: one (n_perm x n_shingle) numpy broadcast
    per row instead of n_perm interpreted array traversals. Input: the
    pmod(hs, p) array of a doc's xxhash64'd shingles (hashing stays
    JVM-side); value i is min over shingles of (a_i*x + b_i) mod p.
    a*x < 2^31 * 2^31 = 2^62 never overflows int64, and numpy % equals
    Spark pmod on non-negatives.
    Defaults to the shared 48-perm Jaccard pool; the containment operator
    passes its dedicated longer pool (CONTAIN_A/B)."""
    A = np.array(a_consts or MINHASH_A, dtype=np.int64)[:, None]
    B = np.array(b_consts or MINHASH_B, dtype=np.int64)[:, None]

    @F.pandas_udf("array<long>")
    def sig(hashes: pd.Series) -> pd.Series:
        # per-row (n_perm x n_tok) broadcast, NOT a batch-flattened
        # reduceat kernel: the per-doc working set stays L1/L2-resident
        # (256 x ~100 int64), which measured 4.5x faster than the
        # flattened (chunk x batch_tokens) shape whose transients thrash
        # the cache — and either way the Arrow transfer, not the numpy
        # kernel, bounds this stage's wall clock
        out = []
        for h in hashes:
            x = np.asarray(h, dtype=np.int64)[None, :]
            out.append((A * x + B) % MERSENNE_P)
        return pd.Series([m.min(axis=1) for m in out])

    return sig


def _freq_sorted_docs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, sorted_sh, n) — each doc's hashed shingles as (freq, tok)
    structs sorted rare-first by corpus frequency, the shared input of
    every prefix-filter join (PPJoin Jaccard + asymmetric containment).
    Persisted and memoized like _corpus_shingles: the relation is
    threshold-independent, both exact pair operators derive their
    prefixes/postings from it, and within one containment query the A
    (prefix) and B (full postings) branches diverge ABOVE the final
    aggregate — without the persist, ReusedExchange stops at the
    pre-aggregate exchange and the collect_list merge + per-doc
    sort_array runs once per branch."""

    def build() -> DataFrame:
        tok = _corpus_shingles(df, text_col, id_col).select(
            "doc", F.explode("hs").alias("tok")
        )
        freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
        return (
            tok.join(freq, "tok")
            .groupBy("doc")
            .agg(
                F.sort_array(F.collect_list(F.struct("freq", "tok"))).alias(
                    "sorted_sh"
                )
            )
            .withColumn("n", F.size("sorted_sh"))
            .persist()
        )

    return memo.cached(df, "freqsorted_sh", text_col, id_col, build=build)


def signature_projection(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, hs, mhs) per non-empty doc — the xxhash64'd 2-shingle set and
    its 48-value minhash signature — as a plain (non-persisted)
    projection. THE one definition of the shingle→hash→minhash chain:
    batch consumers read it memoized, as _corpus_shingles; the signature
    index stores it; the streaming near-dup probe applies it per
    micro-batch (a streaming DF can't persist). Any change here reaches
    all three at once — a second copy of this chain drifting would make
    stream, index and corpus band hashes silently never match.

    The non-empty filter is the shingle UDF's own condition (at least two
    space-separated tokens), evaluated on the text before the UDF runs: a
    filter on hs is pushed below the projection, and the UDF then runs
    twice per doc. The minhash input pmod(hs, p) is pmod(xxhash64(s), p)
    of each string shingle s."""
    n = 2
    hs = df.where(F.size(F.split(F.col(text_col), " ")) >= n).select(
        F.col(id_col),
        F.transform(shingles_udf(n)(F.col(text_col)), lambda s: F.xxhash64(s)).alias("hs"),
    )
    mh = minhash_signature_udf()
    return hs.select(
        id_col,
        "hs",
        mh(F.transform("hs", lambda h: F.pmod(h, F.lit(MERSENNE_P)))).alias("mhs"),
    )


def _corpus_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, hs, mhs, rep) — THE shingle relation of a corpus, persisted
    and memoized per (corpus, text_col, id_col): signature_projection
    plus rep, the smallest doc id with the same shingle set. Every
    shingle consumer in a session reads it — the exact pair operators,
    doc_novelty, MinHash LSH pairs, similar_docs, incremental dedup, the
    streaming probe's corpus side and containment_lsh's representatives —
    so a corpus is shingled once, by one UDF pass.

    MEMORY SHAPE (the sf100 OOM fix, now for the whole family): ONE
    persisted corpus-sized array relation, with every other shingle view
    an unpersisted projection over it. An earlier shape persisted the
    shingle arrays twice for containment alone (a shared hashed copy and
    again inside the representatives) next to a string-shingle signature
    cache: ~17.6 GB of requested blocks against a 16g heap,
    java.lang.OutOfMemoryError at 5M docs. Shingles are held as xxhash64
    longs, never strings: every verify intersects hs arrays. Storage level
    stays the default MEMORY_AND_DISK: a DISK_ONLY variant
    re-deserialized the array columns on every one of the ~6 consumer
    scans and measured 3x slower end-to-end at sf10 (276.7 vs 93.8 s)."""

    def build() -> DataFrame:
        return (
            signature_projection(df, text_col, id_col)
            .select(
                F.col(id_col).alias("doc"),
                "hs",
                "mhs",
                F.xxhash64(F.array_sort("hs")).alias("sd"),
            )
            .withColumn("rep", F.min("doc").over(Window.partitionBy("sd")))
            .select("doc", "hs", "mhs", "rep")
            .persist()
        )

    return memo.cached(df, "shingles", text_col, id_col, build=build)


def _band_bucket_rows(sig: DataFrame) -> DataFrame:
    """(doc, band, bucket) LSH band rows from a (doc, mhs) signature —
    band b's bucket is the xxhash64 of its rows-per-band signature slice,
    the SAME values streaming/neardup._band_hashes computes, so batch and
    stream band collisions agree by construction."""
    rows_per_band = N_MINHASH // LSH_BANDS
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(
                *[F.col("mhs")[bi * rows_per_band + r] for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for bi in range(LSH_BANDS)
    ]
    return sig.select("doc", F.explode(F.array(*band_cols)).alias("bb")).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    Plan shape at scale: one narrow pass computes signatures, a small
    explode (LSH_BANDS rows/doc) shuffles by (band, bucket-hash), the
    self-join touches only colliding candidates, then the verify join
    fetches the two hashed shingle arrays per candidate. Everything else
    never leaves the executors. Verified output == exact ngram_jaccard_pairs
    whenever LSH recall is 1 (P(miss) < 1e-5 at j >= threshold+0.1).

    The verified pair set is persisted and memoized per (corpus plan,
    params) — downstream consumers (triangle counting, clustering, the
    canonical-keeper filter) share one enumeration instead of re-running
    the pipeline, and the signature pass is the corpus shingle relation
    (_corpus_shingles) every shingle consumer shares."""
    return memo.cached(
        df, "lsh_pairs", threshold, text_col, id_col,
        build=lambda: _lsh_pairs(df, threshold, text_col, id_col).persist(),
    )


def _lsh_pairs(df: DataFrame, threshold: float, text_col: str, id_col: str) -> DataFrame:
    sig = _corpus_shingles(df, text_col, id_col)
    buckets = _band_bucket_rows(sig)

    left = buckets.select(F.col("doc").alias("doc_a"), "band", "bucket")
    right = buckets.select(F.col("doc").alias("doc_b"), "band", "bucket")
    candidates = (
        left.join(right, on=["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    sha = sig.select(F.col("doc").alias("doc_a"), F.col("hs").alias("hs_a"))
    shb = sig.select(F.col("doc").alias("doc_b"), F.col("hs").alias("hs_b"))
    return (
        candidates.join(sha, "doc_a")
        .join(shb, "doc_b")
        .withColumn("jaccard", F.round(jaccard_col(F.col("hs_a"), F.col("hs_b")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_against_base(
    new_df: DataFrame,
    base_df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental corpus dedup: keep only the NEW-batch docs that neither
    exactly nor nearly duplicate the BASE corpus — the production shape
    where yesterday's 100 TB corpus is fixed and today's crawl increment
    must be deduped AGAINST it without re-enumerating base×base pairs.

    Two pruning phases, both sublinear in |base|×|new|:
    - exact: content-digest anti-join (md5(text)); the base side is a
      digest-only projection, so no base text moves.
    - near: MinHash band buckets of NEW join band buckets of BASE — a
      cross-corpus equi-join on (band, bucket), never a self-join and
      never all-pairs — then exact-Jaccard verification at `threshold`
      (recall argument as minhash_lsh_pairs: P(miss) < 1e-5 at
      j >= threshold+0.1 with 12 bands × 4 rows).

    The base signature pass is persisted and memoized per corpus plan
    (_corpus_shingles), so successive increments deduped against the same
    base in one session pay the base scan once. Within-batch duplicates are out
    of scope here — compose with exact_dedup / dedup_keep_canonical on the
    increment itself.

    Docs under 2 words have empty shingle sets and are exempt from the
    near phase (the exact phase still catches byte-identical copies) —
    mirrored by the oracle's len(sh) > 0 guards."""
    base_fp = base_df.select(F.md5(F.col(text_col)).alias("__fp")).distinct()
    sig_base = _corpus_shingles(base_df, text_col, id_col)
    return _survivors_vs_base_state(
        new_df, base_fp, sig_base, threshold, text_col, id_col
    )


def _survivors_vs_base_state(
    new_df: DataFrame,
    base_fp: DataFrame,
    sig_base: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Core of incremental dedup given PRECOMPUTED base state — the digest
    set (__fp) and the signatures (doc, hs, mhs) — regardless of
    whether that state was derived live (dedup_against_base) or loaded
    from a persisted cross-run index (dedup_against_index). Single
    definition so the live and indexed paths cannot drift."""
    survivors = new_df.join(
        base_fp, F.md5(F.col(text_col)) == F.col("__fp"), "left_anti"
    )
    sig_new = _corpus_shingles(new_df, text_col, id_col)
    bn = _band_bucket_rows(sig_new).select(
        F.col("doc").alias("doc_new"), "band", "bucket"
    )
    bb = _band_bucket_rows(sig_base).select(
        F.col("doc").alias("doc_base"), "band", "bucket"
    )
    cand = bn.join(bb, on=["band", "bucket"]).select("doc_new", "doc_base").distinct()
    sha = sig_new.select(F.col("doc").alias("doc_new"), F.col("hs").alias("hs_n"))
    shb = sig_base.select(F.col("doc").alias("doc_base"), F.col("hs").alias("hs_b"))
    near = (
        cand.join(sha, "doc_new")
        .join(shb, "doc_base")
        .where(F.round(jaccard_col(F.col("hs_n"), F.col("hs_b")), 6) >= threshold)
        .select("doc_new")
        .distinct()
    )
    return survivors.join(
        near, survivors[id_col] == near["doc_new"], "left_anti"
    )


# ---------------------------------------------------------------------------
# Persisted cross-run signature index
# ---------------------------------------------------------------------------

#: bump when the on-disk layout or any hashing constant scheme changes —
#: readers refuse a mismatched index instead of silently mis-deduping.
#: Version 2 stores hashed shingles (hs), version 1 stored strings (sh).
SIG_INDEX_VERSION = 2


def _write_index_meta(spark, path: str, id_col: str, n_docs: int) -> None:
    spark.createDataFrame(
        [(SIG_INDEX_VERSION, N_MINHASH, LSH_BANDS, id_col, n_docs)],
        "version int, n_minhash int, lsh_bands int, id_col string, n_docs long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _write_counted(df: DataFrame, mode: str, path: str) -> int:
    """Write df as parquet and return the rows written, observed on the
    write job itself: a count() or a read-back would be a second job, and
    for signatures a re-run of the full shingle + minhash Arrow pass."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(mode).parquet(path)
    return obs.get["rows"]


def write_signature_index(
    base_df: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id"
) -> None:
    """Persist a base corpus's dedup state to parquet for CROSS-JOB reuse:
    a daily crawl pipeline is a new Spark job each day, and without this
    every increment re-pays the full base signature pass (the dominant
    cost at 100 TB — ~47 s even at sf10). Layout under `path`:

    - ``signatures/`` (doc_id, hs, mhs): the exact signature_projection
      output — hashed shingle sets for exact-Jaccard verification plus
      the 48-value minhash signature band joins derive from. Columnar, so
      an increment's band join reads mhs without touching hs until verify.
    - ``digests/``    (__fp): distinct md5(text) of the base — the exact
      phase's anti-join side (covers docs too short to shingle).
    - ``meta/``       one row pinning (version, n_minhash, lsh_bands,
      id_col, n_docs): readers validate before trusting buckets, because
      an index written under different hashing constants would produce
      silently-empty band joins, not errors.

    Overwrites atomically per dataset (Spark overwrite mode). The writer
    is the only full-corpus pass; readers are increment-sized jobs."""
    n_docs = _write_counted(
        signature_projection(base_df, text_col, id_col), "overwrite", f"{path}/signatures"
    )
    base_df.select(F.md5(F.col(text_col)).alias("__fp")).distinct().write.mode(
        "overwrite"
    ).parquet(f"{path}/digests")
    _write_index_meta(base_df.sparkSession, path, id_col, n_docs)


def append_to_signature_index(
    increment_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Append an increment's dedup state to an existing signature index
    WITHOUT touching the base — the daily-crawl mutation: day N's
    survivors (``dedup_against_index`` output) join the corpus so that
    day N+1 dedups against base+N. Work is increment-sized: one signature
    pass over the increment and a parquet append to ``signatures/`` and
    ``digests/`` (constants validated first — appending under mismatched
    hashing would poison every future band join; meta's ``n_docs`` is
    rewritten so readers see the true corpus size). Because signatures
    are a pure per-doc function of the text, the appended index is
    row-identical to ``write_signature_index(base ∪ increment)``
    (equality-tested in tests/test_dedup.py).

    Append SURVIVORS, not raw increments: a doc already in the index gets
    a duplicate signature/digest row — harmless for the anti-join and
    band semantics (both are set-membership), but unbounded re-appends
    would bloat the index; a periodic ``write_signature_index`` rebuild
    is the compaction. Returns the number of docs appended."""
    spark = increment_df.sparkSession
    read_signature_index(spark, path, id_col)  # validates version+constants
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    sig = signature_projection(increment_df, text_col, id_col)
    if meta.id_col != id_col:
        sig = sig.withColumnRenamed(id_col, meta.id_col)
    n = _write_counted(sig, "append", f"{path}/signatures")
    increment_df.select(
        F.md5(F.col(text_col)).alias("__fp")
    ).distinct().write.mode("append").parquet(f"{path}/digests")
    _write_index_meta(spark, path, meta.id_col, meta.n_docs + n)
    return n


def compact_signature_index(spark, path: str) -> int:
    """Rewrite an append-grown signature index to minimal form WITHOUT
    touching the corpus text: duplicate signature/digest rows (re-appended
    docs) drop, append-accumulated small files coalesce, and meta is
    re-stamped with the true doc count. This is the cheap periodic
    maintenance of a daily append loop — a full ``write_signature_index``
    rebuild re-pays the corpus shingle+minhash pass; this pays only an
    index-sized parquet rewrite (signatures are a pure function of text,
    so distinct rows ARE the minimal index).

    Staged rewrite: each dataset is written to a ``_compact`` sibling and
    swapped in with rename-aside (canonical -> ``_old``, ``_compact`` ->
    canonical, delete ``_old`` — see util.staged_swap): the canonical path
    is absent only between two metadata renames, never for the duration of
    a recursive delete, and a crash anywhere in the window is self-repaired
    by the next read (util.recover_staged_swap). Run compaction from a
    single maintenance job; concurrent compactions of one index are
    last-writer-wins. Returns the compacted doc count."""
    from ..util import staged_swap

    read_signature_index(spark, path)  # validates version + constants
    meta = spark.read.parquet(f"{path}/meta").collect()[0]

    n_docs = _write_counted(
        spark.read.parquet(f"{path}/signatures").dropDuplicates([meta.id_col]),
        "overwrite",
        f"{path}/signatures_compact",
    )
    spark.read.parquet(f"{path}/digests").distinct().write.mode(
        "overwrite"
    ).parquet(f"{path}/digests_compact")
    staged_swap(spark, path, "signatures")
    staged_swap(spark, path, "digests")
    _write_index_meta(spark, path, meta.id_col, n_docs)
    return n_docs


def read_signature_index(
    spark, path: str, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(signatures, digests) from a write_signature_index location, after
    validating the meta row against this build's hashing constants (a
    mismatch raises — see write_signature_index). The signature id column
    is renamed to `id_col` so consumers are layout-agnostic. A crash
    inside a prior compaction's swap window is self-repaired here (the
    surviving complete staging dataset is promoted back into place)."""
    from ..util import recover_staged_swap

    recover_staged_swap(spark, path, "signatures")
    recover_staged_swap(spark, path, "digests")
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    if meta.version != SIG_INDEX_VERSION:
        raise ValueError(
            f"signature index at {path} has version {meta.version}, "
            f"this build reads {SIG_INDEX_VERSION} — rebuild the index"
        )
    if meta.n_minhash != N_MINHASH or meta.lsh_bands != LSH_BANDS:
        raise ValueError(
            f"signature index at {path} was written with "
            f"{meta.n_minhash} perms x {meta.lsh_bands} bands; this build "
            f"uses {N_MINHASH} x {LSH_BANDS} — band buckets would silently "
            "never collide. Rebuild the index."
        )
    sig = spark.read.parquet(f"{path}/signatures")
    if meta.id_col != id_col:
        sig = sig.withColumnRenamed(meta.id_col, id_col)
    return sig, spark.read.parquet(f"{path}/digests")


def dedup_against_index(
    new_df: DataFrame,
    index_path: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """dedup_against_base with the base state LOADED from a persisted
    signature index instead of recomputed — the cross-JOB incremental
    shape: the expensive base pass ran once in the index-writer job; this
    job only signs the increment and band-joins against stored buckets.
    Semantics are identical by construction (same _survivors_vs_base_state
    core, same stored signature_projection definition)."""
    sig_base, base_fp = read_signature_index(
        new_df.sparkSession, index_path, "doc"
    )
    return _survivors_vs_base_state(
        new_df, base_fp, sig_base, threshold, text_col, id_col
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # md5_i64 width — engine-portable, DuckDB-reproducible
SIMHASH_BANDS = 4  # 15 bits each; pigeonhole: hamming<=3 -> >=1 band equal


def simhash_col(text: Column | str = "text") -> Column:
    """60-bit SimHash: bit i set iff sum over words of ±1 (sign of bit i of
    md5_i64(word)) is positive. Per-row array math — no shuffle. Reference
    implementation; the hot path uses simhash_udf (identical values). The
    word hash is the engine-portable md5-derived 60-bit hash so the DuckDB
    oracle reproduces every fingerprint bit-for-bit."""
    from ..util import md5_i64

    w = words_col(text)
    h = F.transform(w, lambda x: md5_i64(x))
    total = F.size(w)
    out = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        ones = F.size(F.filter(h, lambda x: F.shiftright(x, i).bitwiseAND(F.lit(1)) == 1))
        bit = F.when(ones * 2 > total, F.lit(1)).otherwise(F.lit(0)).cast("long")
        out = out.bitwiseOR(F.shiftleft(bit, i))
    return out


def simhash_udf():
    """Arrow-vectorized SimHash over the JVM-computed md5_i64(word) array:
    one (n_words x 60) bit-unpack + column majority per row, vs 60
    interpreted filter passes. Matches simhash_col bit-for-bit."""
    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)

    @F.pandas_udf("long")
    def sim(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        for j, h in enumerate(hashes):
            x = np.asarray(h, dtype=np.int64).astype(np.uint64)[:, None]
            bits = (x >> shifts[None, :]) & np.uint64(1)  # (n_words, 64)
            maj = bits.sum(axis=0) * 2 > len(h)
            out[j] = maj.astype(np.uint64).dot(np.left_shift(np.uint64(1), shifts)).astype(np.int64)
        return pd.Series(out)

    return sim


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance <= max_hamming.
    Banded candidate join (4x15-bit bands) — exact for max_hamming <= 3 by
    pigeonhole — then bit_count verification."""
    from ..util import md5_i64

    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    sim = simhash_udf()
    # fingerprint projection memoized per corpus (round-12 persist audit):
    # the per-invocation persist had no release owner
    sh = memo.cached(
        df, "simhash_fp", text_col, id_col,
        build=lambda: df.select(
            F.col(id_col),
            sim(F.transform(words_col(text_col), lambda x: md5_i64(x))).alias(
                "simhash"
            ),
        ).persist(),
    )
    bands = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * band_bits).bitwiseAND(F.lit(mask)).alias("bucket"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    left = bands.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "bucket")
    right = bands.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "bucket")
    return (
        left.join(right, on=["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup (quantized-exact)
# ---------------------------------------------------------------------------

def quantized_vec(col: Column | str = "embedding", scale: int = 1000) -> Column:
    """round(x*scale) as array<long> — integer vector space where dot
    products are exact and engine-independent."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.round(x.cast("double") * scale).cast("long"))


def qdot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def qcosine(a: Column, b: Column) -> Column:
    """Deterministic cosine: integer dot / (sqrt(int)*sqrt(int)) — the same
    doubles on every engine given the same quantized inputs."""
    return qdot(a, b).cast("double") / (
        F.sqrt(qdot(a, a).cast("double")) * F.sqrt(qdot(b, b).cast("double"))
    )


#: Edge count at or below which connected_components labels the graph on
#: the driver in one step instead of running another star round. The edges
#: cross as two int64 Arrow columns: 2M edges are 32 MB, and the driver's
#: union-find holds a few index arrays of the same order on top. Every
#: graph the queries and the pipeline benchmark build is far smaller: the
#: largest, embedding_dup_clusters', has 919 edges at sf0.1 and 181,620
#: at a 10x replica of it.
_CC_FINISH_EDGES = 2_000_000


def connected_components(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Cluster the undirected graph of `pairs` (its first two columns)
    into connected components. Returns (node, cluster_id) for every node
    that appears in `pairs`, with cluster_id the smallest node of its
    component; a node that appears only in self-pairs is its own cluster,
    and a NULL end contributes no node.

    The distinct edges are materialized once, as an eager local
    checkpoint whose row count is observed on the same job. While more
    than _CC_FINISH_EDGES remain, each round runs one large-star +
    small-star step (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14), which converges in O(log^2 n) rounds whatever
    the diameter; once the edges fit the driver they are read through
    Arrow and labelled by _min_labels, a vectorized union-find. The small
    result is a driver-built relation: it holds no checkpoint blocks, so
    no later release or memo eviction can invalidate it.

    Edges are held as (u, v) with v <= u. A round:
    - large-star(x): m = min(N(x) + {x}); every neighbor y > x, and x
      itself, is linked to m;
    - small-star(u): m = min of u's edges; u and every v it links to are
      linked to m.
    Both keep every node (a root keeps a (r, r) self-loop) and connectivity,
    and only lower the far end of an edge, so the fixpoint is a forest of
    stars child -> root with the component minimum as root. An input is
    that forest exactly when no node has a smaller neighbor together with
    a larger one or a second smaller one; each round observes the number
    of such nodes in its input, so the round that finds none has
    reproduced the forest, which is the labelling; that result reads the
    last round's checkpoint. Rounds beyond `max_iter` raise RuntimeError."""
    from .closure import _checkpoint

    a, b = (F.col(c) for c in pairs.columns[:2])
    edges, n_edges = _checkpoint(
        pairs.select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
        .where(F.col("v").isNotNull())
        .distinct()
    )
    for _ in range(max_iter):
        if n_edges <= _CC_FINISH_EDGES:
            break
        obs = Observation()
        both = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        star = (
            both.groupBy("u")
            .agg(
                F.least(F.min("v"), F.col("u")).alias("m"),
                F.greatest(F.max("v"), F.col("u")).alias("hi"),
                F.max(F.when(F.col("v") < F.col("u"), F.col("v"))).alias("lo"),
            )
            .observe(
                obs,
                F.count_if(
                    (F.col("m") < F.col("u")) & ((F.col("hi") > F.col("u")) | (F.col("lo") != F.col("m")))
                ).alias("open"),
            )
        )
        large = (
            both.where(F.col("v") > F.col("u"))
            .join(star, "u")
            .select(F.col("v").alias("u"), "m")
            .unionAll(star.select("u", "m"))
            .select("u", F.col("m").alias("v"))
        )
        small = large.groupBy("u").agg(F.min("v").alias("m"))
        nxt, n_edges = _checkpoint(
            large.join(small, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(small.select("u", F.col("m").alias("v")))
            .distinct()
        )
        memo.release_checkpoint(edges)
        edges = nxt
        if obs.get["open"] == 0:
            return edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    if n_edges > _CC_FINISH_EDGES:
        raise RuntimeError(f"connected components did not converge in {max_iter} rounds")
    tbl = edges.toArrow()
    memo.release_checkpoint(edges)
    nodes, roots = _min_labels(tbl.column("u").to_numpy(), tbl.column("v").to_numpy())
    node_type = edges.schema["u"].dataType
    return pairs.sparkSession.createDataFrame(
        pd.DataFrame({"node": nodes, "cluster_id": roots}),
        StructType([StructField("node", node_type), StructField("cluster_id", node_type)]),
    )


def _min_labels(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, component minimum per node) of the edge list u[i] - v[i].
    Nodes are indexed in sorted order, so the smallest index of a component
    is its smallest node. Each pass hooks the larger root of every edge to
    the smaller one and pointer-jumps until every node points at a root;
    a pass that leaves an edge across two roots strictly lowers one of
    them, so the passes end."""
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    iu, iv = idx[: len(u)], idx[len(u):]
    parent = np.arange(len(nodes))
    while True:
        ru, rv = parent[iu], parent[iv]
        if np.array_equal(ru, rv):
            return nodes, nodes[parent]
        low = np.minimum(ru, rv)
        np.minimum.at(parent, ru, low)
        np.minimum.at(parent, rv, low)
        while not np.array_equal(jumped := parent[parent], parent):
            parent = jumped


def dedup_clusters(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidate pairs (exact-
    Jaccard verified) -> connected components -> (doc_id, cluster_id) with
    the component minimum as the canonical keeper id."""
    pairs = minhash_lsh_pairs(df, threshold=threshold, text_col=text_col, id_col=id_col)
    return (
        connected_components(pairs.select("doc_a", "doc_b"))
        .select(F.col("node").alias(id_col), "cluster_id")
    )


def dedup_keep_canonical(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The corpus-output step of near-dedup: drop every near-dup cluster
    member except its canonical keeper (the component-minimum id);
    singletons pass through untouched. This is what a training-data
    pipeline actually writes downstream — `dedup_clusters` is the analysis
    view, this is the filter.

    Scale shape: the drop list (non-canonical members — typically a small
    fraction of the corpus) anti-joins against the full corpus; AQE
    broadcasts it when it fits (the common case, leaving the corpus
    unshuffled) and falls back to a shuffled anti-join when a pathological
    dup rate makes it large — no forced hint, so neither case OOMs."""
    clusters = dedup_clusters(df, threshold=threshold, text_col=text_col, id_col=id_col)
    drop = clusters.where(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return df.join(drop, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    quality_col: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """dedup_keep_canonical with a QUALITY-aware keeper: per near-dup
    cluster keep the member maximizing `quality_col` (ties -> smallest
    id) instead of blindly keeping the minimum id. This is what curation
    pipelines actually want — when a crawl picks up the same article five
    times, keep the longest/cleanest capture, not the one that happened
    to get the smallest id (Penedo et al. 2023 (RefinedWeb) keep the
    longest member; any scoring column works here).

    Same scale shape as dedup_keep_canonical: cluster membership is
    cluster-mass-sized, the keeper choice is one max(struct) per cluster
    (map-side combining, no window sort), and the drop list anti-joins
    the corpus — AQE broadcasts it in the common small-drop-rate case.
    NULL quality sorts below every non-NULL score — not via any coalesce
    but because Spark's struct ordering puts NULL fields lowest under
    max(), so a NULL-quality member never beats a scored one and an
    all-NULL cluster degrades to the tie-break (keep the smallest id,
    i.e. dedup_keep_canonical's behavior)."""
    clusters = dedup_clusters(df, threshold=threshold, text_col=text_col, id_col=id_col)
    members = clusters.join(
        df.select(F.col(id_col), F.col(quality_col).alias("__q")), id_col
    )
    # argmax by (quality, -id): negate the id so ONE max(struct) both
    # maximizes quality and breaks ties toward the smallest id
    keeper = members.groupBy("cluster_id").agg(
        (-F.max(F.struct(F.col("__q"), (-F.col(id_col)).alias("__nid")))["__nid"]).alias(
            "__keep"
        )
    )
    drop = (
        members.join(keeper, "cluster_id")
        .where(F.col(id_col) != F.col("__keep"))
        .select(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All-pairs quantized-cosine >= threshold, as a blocked matmul.

    The n^2 pair space is tiled into B(B+1)/2 block pairs (blk = id mod B,
    so tiles are equal-sized — no skew); each tile is one int64
    (rows x dim) @ (dim x rows) BLAS call inside mapInPandas. Compared to a
    row-pair theta-join this moves each vector B times instead of n times
    and replaces per-pair interpreted dot products with vectorized math —
    the classic distributed all-pairs decomposition. Still O(n^2) compute
    by design (exact baseline); LSH/IVF (similarity.py) is the scale path.

    Determinism: integer dots are exact in any order; the raw cosine is a
    single IEEE division (commutative norm product), and the half-up
    round/threshold is applied JVM-side so results match the DuckDB oracle
    bit-for-bit.

    Block count ADAPTS to corpus size (one cheap count) so a block stays
    ~4k vectors: a fixed 16 blocks put 12.5k vectors (6+ MB of flattened
    int64 per collect_list row) into single rows at 200k vectors, and the
    tile join's UnsafeRow copies of those rows heap-OOM'd the sf10
    capture. Blocking never changes the output — every unordered pair
    still lands in exactly one tile."""
    n_blocks = max(16, -(-df.count() // 4096))
    q = df.select(F.col(id_col).alias("vid"), quantized_vec(vec_col).alias("qv")).withColumn(
        "blk", F.pmod(F.col("vid"), F.lit(n_blocks)).cast("int")
    )
    # primitive array columns (ids + flattened vectors), not struct lists:
    # Arrow moves them zero-copy and numpy reshapes them without touching
    # per-element Python objects
    g = (
        q.groupBy("blk")
        .agg(F.sort_array(F.collect_list(F.struct(F.col("vid"), F.col("qv")))).alias("vs"))
        .select(
            "blk",
            F.transform("vs", lambda x: x["vid"]).alias("ids"),
            F.flatten(F.transform("vs", lambda x: x["qv"])).alias("flat"),
        )
    )
    a = g.select(F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"), F.col("flat").alias("flat_a"))
    b = g.select(F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"), F.col("flat").alias("flat_b"))
    n_tiles = n_blocks * (n_blocks + 1) // 2
    # a few tiles per task, not one: each mapInPandas call then amortizes
    # the Python-worker round trip over its whole batch
    tiles = a.join(b, F.col("blk_a") <= F.col("blk_b")).repartition(
        min(df.sparkSession.sparkContext.defaultParallelism, n_tiles)
    )
    # prefilter margin: keep anything that could half-up-round to >= threshold
    lo = threshold - 1e-6

    def compute(batches):
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
                # each unordered pair lands in exactly one tile — but a
                # diagonal tile sees it at both (i,j) and (j,i): keep the
                # strictly-increasing half there. Off-diagonal tiles see it
                # once, in either orientation: emit as (min id, max id);
                # cosine and the norm product are symmetric.
                if r["blk_a"] == r["blk_b"]:
                    keep = (cos >= lo) & (ia[:, None] < ib[None, :])
                else:
                    keep = (cos >= lo) & (ia[:, None] != ib[None, :])
                i, j = np.nonzero(keep)
                if len(i):
                    va, vb = ia[i], ib[j]
                    lo_id, hi_id = np.minimum(va, vb), np.maximum(va, vb)
                    yield pd.DataFrame(
                        {"vec_a": lo_id, "vec_b": hi_id, "cosine": cos[i, j]}
                    )

    return (
        tiles.mapInPandas(compute, "vec_a long, vec_b long, cosine double")
        .withColumn("cosine", F.round("cosine", 6))
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def triangle_count(pairs: DataFrame) -> DataFrame:
    """Count triangles in the undirected pair graph (e.g. near-dup pairs):
    the standard graph-cohesion metric, and the classic test of whether an
    engine can do self-join-heavy graph analytics set-at-a-time.

    Degree-ordered formulation: orient every edge from its lower to its
    higher endpoint under the total order (degree, node). Each triangle
    then has exactly ONE node with both edges outgoing (its minimum), so
    counting wedges (a->b, a->c with b<c) that close with an edge b->c
    counts each triangle exactly once — and because wedges are enumerated
    at each node's OUT-degree, which the orientation bounds by O(sqrt(m)),
    total wedge work is O(m^1.5) even on power-law graphs where the naive
    id-ordered join explodes at hub nodes. Node order keys travel as
    struct(degree, node) columns compared lexicographically — no global
    rank assignment, no single-partition window."""
    cols = pairs.columns[:2]
    a, b = F.col(cols[0]), F.col(cols[1])
    und = (
        pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    e = (
        und.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(ku < kv, kv).otherwise(ku).alias("dst_k"),
        )
    )
    w1 = e.select(F.col("src"), F.col("dst").alias("b"), F.col("dst_k").alias("kb"))
    w2 = e.select(F.col("src"), F.col("dst").alias("c"), F.col("dst_k").alias("kc"))
    wedges = w1.join(w2, "src").where(F.col("kb") < F.col("kc")).select("b", "c")
    closing = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    return wedges.join(closing, ["b", "c"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def similar_docs(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Query-by-document search: for each query id, the top-k most similar
    corpus documents by exact shingle Jaccard >= threshold — the point-
    lookup twin of ``minhash_lsh_pairs`` (which enumerates ALL pairs).

    Scale shape: the corpus is banded once; only the QUERY docs' buckets
    probe it (a broadcast-sized build side for any sane query batch), so
    cost is candidates-per-query, not corpus x corpus — the "find reuses
    of this document" primitive at 100 TB. Candidates are verified with
    exact Jaccard, so results match brute force whenever LSH recall is 1
    (P(miss) < 1e-5 at j >= threshold+0.1, same banding as the pair
    enumeration). Shares the persisted corpus shingle relation with
    minhash_lsh_pairs."""
    sig = _corpus_shingles(df, text_col, id_col)
    buckets = _band_bucket_rows(sig)

    qb = (
        buckets.where(F.col("doc").isin(query_ids))
        .select(F.col("doc").alias("query_id"), "band", "bucket")
    )
    cand = (
        F.broadcast(qb)
        .join(buckets, on=["band", "bucket"])
        .where(F.col("query_id") != F.col("doc"))
        .select("query_id", F.col("doc").alias("neighbor_id"))
        .distinct()
    )
    shq = sig.select(F.col("doc").alias("query_id"), F.col("hs").alias("hs_q"))
    shn = sig.select(F.col("doc").alias("neighbor_id"), F.col("hs").alias("hs_n"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("jaccard"), F.asc("neighbor_id")
    )
    return (
        cand.join(shq, "query_id")
        .join(shn, "neighbor_id")
        .withColumn("jaccard", F.round(jaccard_col(F.col("hs_q"), F.col("hs_n")), 6))
        .where(F.col("jaccard") >= threshold)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "jaccard")
    )
