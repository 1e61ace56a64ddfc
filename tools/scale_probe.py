"""Scale-headroom probe: cost curves for the flagship scale operators at
1x / 10x / 100x of sf0.1, generated in-memory by key-shifted replication.

Purpose: the "designed for 100 TB" claim needs measured evidence that each
operator's cost grows sub-quadratically in input size on the SAME plans
the small-SF suite runs. 100x of sf0.1 = 60M lineitem rows / 500k docs /
10M events / 200k vectors — far past where an accidentally quadratic
candidate generator, an unsalted hot key, or a diameter-bound loop would
blow up.

Replication is key-shifted so CARDINALITIES scale with volume (each
replica gets its own id range: join fan-outs, group counts, and user
populations grow linearly — replicating onto the SAME keys would instead
create synthetic 100x-hot keys and quadratic join outputs). Document text
is additionally perturbed per replica (every other word tagged) so
replicas of one base doc are NOT near-dups of each other: cross-replica
Jaccard ~0.14, far below the 0.8 threshold, keeping true near-dup output
linear in the factor. The round-2 probe skipped this and its LSH output
grew ~1000x from replica cliques, drowning the scaling signal.

Usage:  python tools/scale_probe.py [factor ...]      # default: 1 10 100
Writes SCALE_PROBE.json at the repo root and prints a table plus the
per-decade scaling exponent alpha = log(t_hi/t_lo) / log(f_hi/f_lo);
alpha < 2 everywhere = sub-quadratic, the gate this probe asserts.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mover_spark.catalog import Catalog
from mover_spark.session import get_spark

LIFT = 10_000_000  # id shift per replica — past every fixture key range


def _replicate(df, factor: int, shifts: dict[str, int], rep_col: str = "__rep"):
    """factor copies of df; each listed id column shifted by rep*LIFT*mult."""
    if factor == 1:
        return df
    out = df.withColumn(
        rep_col, F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    )
    for col, mult in shifts.items():
        out = out.withColumn(
            col, F.col(col) + F.col(rep_col).cast("long") * (LIFT * mult)
        )
    return out


def _perturb_text(df, rep_col: str = "__rep", text_col: str = "text"):
    """Tag every other word with the replica id: replicas of one base doc
    share ~25% of their 2-gram shingles (Jaccard ~0.14) — real text drift,
    not near-duplicates."""
    words = F.split(F.col(text_col), " ")
    tagged = F.transform(
        words,
        lambda w, i: F.when(
            i % 2 == 0, F.concat(w, F.lit("_"), F.col(rep_col).cast("string"))
        ).otherwise(w),
    )
    return df.withColumn(text_col, F.array_join(tagged, " "))


def build_tables(cat: Catalog, factor: int) -> dict:
    """Key-shifted factor-x replicas of the probe's input tables, cached."""
    t = {}
    t["lineitem"] = _replicate(cat.df("lineitem"), factor, {"l_orderkey": 1})
    t["orders"] = _replicate(cat.df("orders"), factor, {"o_orderkey": 1, "o_custkey": 1})
    t["customer"] = _replicate(cat.df("customer"), factor, {"c_custkey": 1})
    docs = _replicate(cat.df("documents"), factor, {"doc_id": 1})
    t["documents"] = _perturb_text(docs) if factor > 1 else docs
    t["events"] = _replicate(
        cat.df("events"), factor, {"event_id": 1, "user_id": 1}
    )
    emb = _replicate(cat.df("embeddings"), factor, {"vec_id": 1})
    if factor > 1:
        # nudge each replica's vectors so they are distinct points, not
        # 100 exact copies collapsing onto identical cells/neighbors
        emb = emb.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: x + (F.col("__rep") % 7).cast("float") * 0.001 * (i % 3),
            ),
        )
    t["embeddings"] = emb
    for name, df in t.items():
        # the base fixtures are 1-2 parquet files, so a factor-x explode
        # would otherwise sit in 1-2 giant partitions and serialize every
        # downstream operator onto two cores — spread the generated volume
        # across the machine the way a real 100x dataset would arrive
        if factor > 1:
            df = df.repartition(64)
        t[name] = df.drop("__rep").persist()
        t[name].count()  # materialize outside the timed region
    # the CC probe measures component-finding, not candidate generation:
    # its edge input (the LSH pair list at this factor) is built here,
    # outside the timed region
    from mover_spark.operators.dedup import minhash_lsh_pairs

    t["__edges"] = (
        minhash_lsh_pairs(t["documents"]).select("doc_a", "doc_b").localCheckpoint()
    )
    return t


# --------------------------------------------------------------------------
# probed operators — each fn(tables, cat) -> DataFrame to materialize
# --------------------------------------------------------------------------

def op_q1_decimal_agg(t, cat):
    """TPC-H Q1 shape on the scaled lineitem (same dsum/davg decimal
    partials as analytics.pricing_summary)."""
    from mover_spark.operators.analytics import davg, dsum

    li = t["lineitem"].where(
        F.col("l_shipdate") < F.lit("1998-09-01").cast("timestamp_ntz")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum(disc).alias("sum_disc_price"),
        dsum(charge, scale=6).alias("sum_charge"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def op_salted_agg(t, cat):
    from mover_spark.operators.joins import salted_agg

    return salted_agg(
        t["lineitem"],
        ["l_returnflag"],
        {"n": ("count", "l_quantity"), "sum_qty": ("sum", "l_quantity")},
    )


def op_minhash_lsh(t, cat):
    from mover_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(t["documents"])


def op_connected_components(t, cat):
    from mover_spark.operators.dedup import connected_components

    return connected_components(t["__edges"])


def op_ivf_topk(t, cat):
    """Fixed 100-query workload against the scaled corpus (the ANN serving
    shape: corpus grows, per-query probe cost must track corpus/cells)."""
    from mover_spark.operators.similarity import auto_ivf_params, ivf_topk

    corpus = t["embeddings"]
    queries = corpus.orderBy("vec_id").limit(100)
    n_c, n_p = auto_ivf_params(corpus.count())
    return ivf_topk(corpus, queries, k=10, n_centroids=n_c, n_probe=n_p)


def op_interval_join(t, cat):
    """Batch twin of interval_join_stream (same semantics: each purchase
    joins the same user's clicks in the trailing hour; user population
    scales with the factor, so per-user fan-out stays constant). The
    streaming variant adds fixed micro-batch machinery on top of this join;
    its state is watermark-bounded, independent of stream length."""
    ev = t["events"]
    lhs = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts")
    )
    rhs = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts")
    )
    return (
        lhs.join(
            rhs,
            (F.col("l_user") == F.col("r_user"))
            & (F.col("r_ts") <= F.col("l_ts"))
            & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("l_user")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def op_token_packing(t, cat):
    from mover_spark.operators.text import pack_by_token_budget

    return pack_by_token_budget(t["documents"], budget=1000)


def op_closure(t, cat):
    """FK closure over the scaled star: 50 seed customers PER replica (the
    workload scales with the data), frontier semi-joins touch the scaled
    orders/lineitem; iteration count is the (unchanged) graph diameter, so
    cost must scale with data volume, not rounds."""
    import copy

    from mover_spark.operators.closure import closure_summary, extract_closure

    # operate on a SHALLOW CLONE: mutating the shared catalog's table map
    # would leak this factor's scaled tables into the next factor's build
    # (the bug that silently replicated 10x lineitem by another 100x)
    c2 = copy.copy(cat)
    c2._dfs = dict(cat._dfs)
    c2._dfs.update({k: t[k] for k in ("lineitem", "orders", "customer") if k in t})
    seed = t["customer"].where(F.col("c_custkey") % LIFT <= 50)
    out = extract_closure(c2.spark, c2, [("customer", seed)])
    return closure_summary(out)


OPS = {
    "q1_decimal_agg": op_q1_decimal_agg,
    "salted_agg": op_salted_agg,
    "minhash_lsh": op_minhash_lsh,
    "connected_components": op_connected_components,
    "ivf_topk": op_ivf_topk,
    "interval_join": op_interval_join,
    "token_packing": op_token_packing,
    "closure": op_closure,
}


def main() -> int:
    factors = [int(x) for x in sys.argv[1:]] or [1, 10, 100]
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    cat = Catalog(spark, "/root/testdata/sf0.1", register_views=False)

    results: dict[str, dict] = {op: {} for op in OPS}
    rows_at: dict[int, dict] = {}
    for factor in factors:
        print(f"-- building {factor}x tables ...", flush=True)
        t = build_tables(cat, factor)
        rows_at[factor] = {k: t[k].count() for k in ("lineitem", "documents", "events", "embeddings")}
        for name, fn in OPS.items():
            # one warm-up at the smallest factor so first-use JIT/Arrow
            # startup doesn't pollute the curve
            if factor == factors[0]:
                fn(t, cat).write.format("noop").mode("overwrite").save()
            t0 = time.time()
            df = fn(t, cat)
            df.write.format("noop").mode("overwrite").save()
            sec = round(time.time() - t0, 2)
            results[name][str(factor)] = sec
            print(f"   {name:18s} {factor:>4}x  {sec:8.2f}s", flush=True)
        for df in t.values():
            df.unpersist()

    # scaling exponents between consecutive factors
    print(f"\n{'operator':18s} " + " ".join(f"{f:>9}x" for f in factors) + "   alpha(last decade)")
    worst = 0.0
    alphas: dict[str, float] = {}
    for name, series in results.items():
        ts = [series[str(f)] for f in factors]
        alpha = (
            math.log(max(ts[-1], 1e-3) / max(ts[-2], 1e-3))
            / math.log(factors[-1] / factors[-2])
            if len(factors) > 1
            else 0.0
        )
        alphas[name] = round(alpha, 2)
        worst = max(worst, alpha)
        print(f"{name:18s} " + " ".join(f"{t:>9.2f}" for t in ts) + f"   {alpha:6.2f}")

    out = {
        "factors": factors,
        "base_sf": 0.1,
        "rows": rows_at,
        "seconds": results,
        "alpha_last_decade": alphas,
        "subquadratic": worst < 2.0,
    }
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_PROBE.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"\nsubquadratic gate (alpha < 2): {'PASS' if worst < 2.0 else 'FAIL'} (worst {worst:.2f})")
    return 0 if worst < 2.0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
