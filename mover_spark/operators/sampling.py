"""Deterministic sampling and dataset splitting.

Training pipelines need REPRODUCIBLE sampling: the same row must land in
the same split on every run, engine, and cluster size — which rules out
`df.sample()`/`sampleBy()` (seeded rand() is partition-order dependent).
The tool here is arithmetic key hashing: Knuth's multiplicative hash of the
row's id is uniform, stable, and expressible in ANY engine (plain bigint
math), so splits are portable and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KNUTH = 2654435761  # 2^32 / golden ratio
MERSENNE = (1 << 31) - 1  # 2^31 - 1, prime
A = KNUTH % MERSENNE  # 506952114 — nonzero multiplier => bijection mod p


def hash_bucket(id_col: Column | str, buckets: int = 10_000) -> Column:
    """Uniform stable bucket in [0, buckets) from an integer id — multiplicative
    hashing mod the Mersenne prime 2^31-1 in plain bigint math (portable to any
    engine). Every intermediate fits in 61 bits: the id is reduced mod p BEFORE
    multiplying, so (p-1)*A ~= 1.09e18 < 2^63-1 — no overflow for any int64 id
    (a raw `id * KNUTH` overflows for ids above ~3.46e9 and would error under
    Spark's ANSI mode / DuckDB BIGINT math). `a*x mod p` with prime p and a != 0
    permutes [0, p), so buckets stay uniform.

    SQL mirror (nonnegative ids; CAST the id to BIGINT first — engines that
    type small ints as INT32 overflow on the multiply): 
    ((CAST(id AS BIGINT) % 2147483647) * 506952114) % 2147483647
    % buckets."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    p = F.lit(MERSENNE)
    return F.pmod(F.pmod(F.pmod(c, p) * F.lit(A), p), F.lit(buckets))


def hash_split(
    df: DataFrame, id_col: str, splits: dict[str, float] | None = None
) -> DataFrame:
    """Tag each row with a deterministic split label. `splits` maps label ->
    fraction (must sum to <= 1; remainder falls into the last label).
    Stable: re-running, re-partitioning, or re-scaling never moves a row."""
    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = hash_bucket(id_col)
    expr = None
    lo = 0.0
    labels = list(splits.items())
    for name, frac in labels[:-1]:
        hi = lo + frac
        # round, not int(): 0.57*10000 is 5699.999... in binary floating
        # point — truncation silently shaves a bucket off the promised
        # exact fraction
        cond = (b >= round(lo * 10_000)) & (b < round(hi * 10_000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    last = labels[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    splits: dict[str, float] | None = None,
    threshold: float = 0.8,
) -> DataFrame:
    """hash_split with a CONTAMINATION GUARANTEE: the split bucket is
    computed on the near-dup cluster's canonical id (dedup_clusters),
    not the row id, so every member of a near-duplicate cluster lands
    in the SAME split. Train/eval leakage through near-duplicates —
    Lee et al. 2022's finding that duplicated text straddling splits
    inflates benchmark scores — is structurally impossible at the
    clustering threshold, instead of merely unlikely. Docs in no
    cluster fall back to their own id, i.e. exactly hash_split's
    assignment for them.

    Cost = one dedup_clusters pass (banded MinHash-LSH + connected
    components — the sub-quadratic scale path) + a broadcast-or-shuffle
    left join of the cluster map; the split tagging itself stays the
    same arithmetic-hash expression as hash_split (stable across runs,
    engines, partitionings). Same output contract as hash_split: the
    input columns plus `split`."""
    from .dedup import dedup_clusters

    clusters = dedup_clusters(df, threshold=threshold, text_col=text_col, id_col=id_col)
    keyed = df.join(clusters, id_col, "left").withColumn(
        "__skey", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    return hash_split(keyed, "__skey", splits).drop("__skey", "cluster_id")


def deterministic_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Stable `fraction` sample by id hash — same rows every run."""
    return df.where(hash_bucket(id_col) < round(fraction * 10_000))


def cap_per_key(
    df: DataFrame, key_col: str, n: int, id_col: str
) -> DataFrame:
    """Quota sampling: keep at most `n` rows per key, chosen
    DETERMINISTICALLY — rows are ranked inside each key by (hash_bucket(id),
    id), i.e. a stable pseudo-random order, so the kept set never changes
    across runs, partitionings, or engines. The training-data use: cap
    documents per domain/source/language so no key dominates the mixture.

    Scale shape: one window ranked within the key partition — a single
    shuffle on key_col; skewed keys are bounded by the cap itself on output
    (input skew can be pre-salted upstream if one key carries the corpus)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(
        hash_bucket(id_col).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def stratified_sample_exact(
    df: DataFrame, strata_col: str, id_col: str, n: int = 50
) -> DataFrame:
    """EXACTLY n rows per stratum (fewer only if the stratum is smaller) —
    the deterministic distributed analogue of per-group reservoir
    sampling: rank rows within each stratum by the portable multiplicative
    hash of their id (a bijection below 2^31, so the order is a fixed
    pseudo-random permutation) and keep the first n. Same rows every run,
    engine, and partitioning; fraction-based sampling can't promise exact
    group sizes, and rand() can't promise stability.

    One shuffle on the stratum key; the rank window never sees more than a
    stratum per partition."""
    from pyspark.sql.window import Window

    h = hash_bucket(id_col, buckets=MERSENNE)  # raw affine hash, no bucketing
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= n)
        .drop("__rk")
    )


def race_key_col(weight_col: Column | str, id_col: Column | str) -> Column:
    """Efraimidis–Spirakis exponential-race key for weighted sampling
    without replacement: rank rows by w / Exp(1), where the Exp(1) draw is
    -ln(u) with u a DETERMINISTIC uniform derived from the row id. Keeping
    the top-k by this key is distributionally identical to sequential
    weighted sampling without replacement (the A-ES result: u^(1/w) order ==
    w/(-ln u) order), but needs no sequential pass — it is a plain top-k.

    Portability contract (mirrors hash_bucket): the uniform is
    u = (affine_hash(id) + 1) / 2^31  ∈ (0, 1), every step exact in IEEE
    double, so Spark and any SQL engine compute the identical key. The key
    is rounded to 6 decimals BEFORE ranking (same policy as tfidf/jaccard:
    a 1-ulp libm ln() divergence between engines must not reorder rows);
    rank ties on the rounded key break by id.

    SQL mirror:
      ROUND(CAST(w AS DOUBLE) / (-ln(
        (((CAST(id AS BIGINT) % 2147483647) * 506952114) % 2147483647 + 1)
        / 2147483648.0)), 6)

    w/(-ln u) grows ~linearly in w (magnitude ~w for median u), so the
    6-decimal rounding keeps >= 10 significant digits for any realistic
    weight — ties stay rare and the weighting exact."""
    wc = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    ic = F.col(id_col) if isinstance(id_col, str) else id_col
    h = hash_bucket(ic, buckets=MERSENNE)  # raw affine hash in [0, p)
    u = (h + F.lit(1)) / F.lit(2147483648.0)  # (0, 1): max (p)/2^31 < 1
    return F.round(wc.cast("double") / -F.log(u), 6)


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
    strata_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: keep the k rows
    (per stratum, if `strata_col` is given) whose exponential-race key
    w/(-ln u) is largest — each row's inclusion probability is proportional
    to its weight among the survivors, yet the selection is a pure function
    of (id, weight), so it is identical across runs, partitionings, and
    engines. The training-data use: quality- or length-weighted corpus
    subsetting where reproducibility is a hard requirement (rand()-based
    sampling moves rows whenever the partitioning changes).

    Rows with NULL or non-positive weight are excluded (a zero-weight row
    must never be sampled; -ln(u)/w is undefined at w <= 0).

    Scale shape: the global form is orderBy(key).limit(k) — Spark plans
    TakeOrderedAndProject, a per-partition top-k heap + driver merge of
    k-row slivers, NO global sort. The stratified form is one window rank
    inside the stratum partition — a single shuffle on the stratum key,
    with WindowGroupLimit pruning each partition to its top-k before the
    rank evaluates. Adds a `race_key` column (the rounded ranking key) so
    the selection is auditable and oracle-checkable."""
    keyed = df.where(F.col(weight_col) > 0).withColumn(
        "race_key", race_key_col(weight_col, id_col)
    )
    if strata_col is None:
        return keyed.orderBy(
            F.col("race_key").desc(), F.col(id_col).asc()
        ).limit(k)
    from pyspark.sql.window import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.col("race_key").desc(), F.col(id_col).asc()
    )
    return (
        keyed.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
) -> DataFrame:
    """Deterministic mixture/epoch sampling — the data-mixing step that
    turns a curated corpus into a training mixture: each source (domain,
    crawl, language, ...) gets a target weight w, and every row of that
    source appears floor(w) times plus one more copy iff its stable hash
    bucket falls under the fractional part (so w=2.25 means two full
    epochs of the source plus a deterministic quarter of it a third
    time; w=0.25 downsamples to a quarter; w=0 drops the source).
    Output rows carry an ``epoch`` column (0-based copy index), so
    downstream shuffling/packing can interleave epochs.

    Stability contract (same as hash_split): inclusion of the fractional
    copy is a pure function of the row id via the portable multiplicative
    hash — identical across runs, partitionings, and engines, and rows
    keep their selection when weights of OTHER sources change.

    Scale shape: entirely narrow — a literal-map lookup, integer floor,
    one hash compare, and an explode(sequence(...)); no shuffle, no UDF,
    no collect. At 100 TB this is a pure map stage pipelined into
    whatever shuffle follows (packing, sharded write).

    SQL mirror (DuckDB):
      n = CAST(FLOOR(wt) AS INT) + CASE WHEN
            (((CAST(id AS BIGINT) % 2147483647) * 506952114) % 2147483647)
            % 10000 < ROUND((wt - FLOOR(wt)) * 10000) THEN 1 ELSE 0 END
      ... CROSS JOIN unnest(range(n)) AS epoch."""
    pairs = [x for kv in weights.items() for x in kv]
    wmap = F.create_map(*[F.lit(x) for x in pairs]) if pairs else None
    looked = (
        F.element_at(wmap, F.col(key_col)) if wmap is not None else F.lit(None)
    )
    wt = F.coalesce(looked.cast("double"), F.lit(float(default_weight)))
    frac_thresh = F.round((wt - F.floor(wt)) * 10_000).cast("long")
    n = F.floor(wt).cast("int") + F.when(
        hash_bucket(id_col) < frac_thresh, F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.withColumn("__n", n)
        .where(F.col("__n") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n")
    )


def shard_assignment(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    epoch_col: str | None = None,
) -> DataFrame:
    """Deterministic global shuffle for training export: every row gets a
    ``shard`` in [0, n_shards) and an intra-shard ``shard_key`` order — a
    fixed pseudo-random permutation of the corpus, so (a) each shard is a
    uniform sample of the mixture (no source/time clustering from the
    curation order survives), and (b) repeated epochs of the same document
    (see mixture_sample) land in DIFFERENT shards and positions, because
    the epoch index is folded into the hashed key.

    Portability contract (mirrors hash_bucket): key = id * 1048573 + epoch
    (1048573 prime; exact in int64 for any id < 8.8e12), then the same
    mersenne affine hash — identical shard and order on every run,
    partitioning, and engine.

    SQL mirror:
      h = (((CAST(id * 1048573 + epoch AS BIGINT) % 2147483647) * 506952114)
           % 2147483647);  shard = h % n_shards;  shard_key = h.

    Scale shape: narrow hash math; the only data movement is the ONE
    shuffle any global shuffle needs — repartition on shard + in-partition
    sort by shard_key (no global sort; see write_training_shards)."""
    ec = F.col(epoch_col) if epoch_col else F.lit(0)
    combined = F.col(id_col).cast("long") * F.lit(1048573) + ec.cast("long")
    h = hash_bucket(combined, buckets=MERSENNE)
    return df.withColumn("shard", h % F.lit(n_shards)).withColumn("shard_key", h)


def write_training_shards(
    df: DataFrame,
    out_path: str,
    n_shards: int,
    id_col: str = "doc_id",
    epoch_col: str | None = None,
) -> DataFrame:
    """Materialize the shard layout: shard=K directories, rows inside each
    shard sorted by shard_key (the training reader streams a shard
    sequentially and sees a pre-shuffled order — no reader-side shuffle
    buffer needed). One shuffle total: repartition on the shard column,
    sortWithinPartitions on the key; no global sort. Returns the re-read
    DataFrame (filters on `shard` prune whole directories)."""
    out = (
        shard_assignment(df, n_shards, id_col, epoch_col)
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "shard_key")
    )
    out.write.mode("overwrite").partitionBy("shard").parquet(out_path)
    return df.sparkSession.read.parquet(out_path)
