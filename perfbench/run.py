"""Pipeline benchmark of mover_spark: one workload, one fresh process, one
Spark session at local[nproc].

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end wall times (setup_s, first_s,
cold_s, repeat_s); with ``--trace 1`` they are the per-layer metrics, from
spans around the program's layers and Spark's event log. The line before
it describes the run: host probe, set-up parts, each pass's time and any
failure. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

import checks
import spans
import workloads

RUNS_DIR = ".perfbench_runs"
#: The program's default driver heap (16g) is larger than a 15 GB host;
#: an FK closure that grows its plans can then take the whole machine.
DRIVER_MEMORY = "3g"
#: corpus_dedup's revisit needs the first pass's containment candidates
#: evicted. One cold pass does that when the candidate memo holds one
#: entry; at the default of four it would take four cold passes, more
#: than a run can hold. Repeat passes still hit, since they re-run the
#: latest corpus.
CAND_CACHE_MAX = "1"
#: Input generation is repeated this many times and its median is taken.
GEN_REPEATS = 3
KINDS = ("first", "cold", "repeat")

_SUBSET = [
    "engine.extract.s", "engine.extract.jobs", "closure.extract_closure.s",
    "closure.extract_closure.jobs", "sanitize.sanitize_df.s", "jsonio.write_envelope.s",
    "jsonio.write_envelope.jobs", "engine.load.s", "engine.load.jobs",
    "jsonio.read_envelopes.s", "jsonio.envelope_mb", "engine.extract.left_cached_mb",
]
_CORPUS = [
    "dedup.minhash_lsh_pairs.s", "dedup.minhash_lsh_pairs.jobs", "dedup.connected_components.s",
    "dedup.connected_components.jobs", "dedup.containment_lsh.s", "dedup.containment_lsh.jobs",
    "similarity.semantic_dedup.s", "similarity.semantic_dedup.jobs", "memo.resident_mb",
]
_RUNTIME = [
    "spark.jobs", "spark.tasks", "spark.driver_gap_s", "spark.task_run_s", "spark.task_cpu_s",
    "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "python.worker_init_s", "python.worker_run_s", "process.cpu_s",
]
_CRAWL_FIRST = ["dedup.write_signature_index.s", "dedup.write_signature_index.jobs", "dedup.index_mb"]
_CRAWL_DAY = [
    "dedup.dedup_against_index.s", "dedup.dedup_against_index.jobs",
    "dedup.append_to_signature_index.s", "dedup.append_to_signature_index.jobs", "dedup.index_mb",
]

#: Every per-layer metric a traced run reports, whatever the workload; a
#: layer the workload does not run reads 0.
PER_LAYER = (
    ["setup.session.get_spark.s", "setup.catalog.Catalog.s", "process.peak_rss_mb"]
    + [f"{k}.{m}" for k in KINDS for m in _SUBSET + _CORPUS + _RUNTIME]
    + [f"first.{m}" for m in _CRAWL_FIRST]
    + [f"{k}.{m}" for k in ("cold", "repeat") for m in _CRAWL_DAY]
)


def unit(name: str) -> str:
    if name.endswith(".jobs") or name.endswith(".tasks"):
        return "count"
    if name.endswith("_mb"):
        return "MB"
    return "s"


def host_probe() -> dict:
    """A fixed pure-Python loop and the first and second touch of a fixed
    256 MB block: a slow or cold host shows here, apart from the program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    loop_s = time.perf_counter() - t0
    block = np.empty(32 * 1024 * 1024, dtype=np.float64)
    t0 = time.perf_counter()
    block.fill(1.0)
    first = time.perf_counter() - t0
    t0 = time.perf_counter()
    block.fill(2.0)
    second = time.perf_counter() - t0
    return {"py_loop_s": loop_s, "touch_first_s": first, "touch_second_s": second}


def bootstrap_env(run_dir: str, traced: bool) -> str:
    """Point every scratch path of Spark and Python into the run directory,
    before pyspark starts the JVM. Returns the event log directory."""
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "events")
    os.makedirs(tmp)
    os.makedirs(events)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["MOVER_SPARK_CAND_CACHE_MAX"] = CAND_CACHE_MAX
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                # Spark 4.1 defaults to a rolling zstd log, which the
                # standard library cannot read
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return events


def stop_spark(spark) -> None:
    """Stop the session and the JVM pyspark started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def error_line(e: Exception) -> str:
    """The most telling line of an exception: Spark's bracketed error class
    when there is one, else the first line."""
    lines = [ln.strip() for ln in str(e).splitlines() if ln.strip()]
    tagged = [ln for ln in lines if re.search(r"\[[A-Z_]+\]", ln)]
    return f"{type(e).__name__}: {(tagged or lines or [''])[0]}"[:300]


def per_layer(tracer: spans.Tracer, passes: list, stats: dict, peak_rss_mb: float) -> dict:
    """Median over the passes of each kind, per metric; 0 where a layer
    did not run."""
    by_kind: dict[str, dict[str, list[float]]] = {k: {} for k in KINDS}
    for kind, root, extra in passes:
        if kind not in by_kind:
            continue
        m = spans.pass_metrics(root, stats)
        m.update(extra)
        for name, v in m.items():
            by_kind[kind].setdefault(name, []).append(v)
    out = {f"{k}.{name}": statistics.median(vs) for k, d in by_kind.items() for name, vs in d.items()}
    for s in tracer.spans:
        if s.kind == "setup" and s.parent is None:
            key = f"setup.{s.name}.s"
            out[key] = out.get(key, 0.0) + (s.t1 - s.t0)
    out["process.peak_rss_mb"] = peak_rss_mb
    return {n: float(out.get(n, 0.0)) for n in PER_LAYER}


def run(args, run_dir: str) -> int:
    events = bootstrap_env(run_dir, args.trace)
    probe = host_probe()
    from pyspark import SparkContext

    tracer = spans.Tracer(lambda: SparkContext._active_spark_context) if args.trace else spans.Tracer()  # noqa: SLF001
    if args.trace:
        spans.install(tracer)
    cls, _ = workloads.WORKLOADS[args.workload]
    rounds = workloads.rounds_for(args.workload, args.seconds)
    wl = cls(args.seed % (1 << 63), rounds, run_dir, tracer)  # numpy seeds are >= 0

    gen_s = []
    for r in range(GEN_REPEATS):
        d = os.path.join(run_dir, f"inputs{r}")
        t0 = time.perf_counter()
        wl.generate(d)
        gen_s.append(time.perf_counter() - t0)
        if r:
            shutil.rmtree(d)
    from mover_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=str(len(os.sched_getaffinity(0))))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    attempted = failed = 0
    correct = True
    times: dict[str, list[float]] = {k: [] for k in KINDS}
    passes, log, failures = [], [], []
    try:
        t0 = time.perf_counter()
        wl.open(spark, os.path.join(run_dir, "inputs0"))
        catalog_s = time.perf_counter() - t0
        wl.prepare()
        for op in wl.ops():
            attempted += 1
            tracer.kind = op.kind
            extra: dict = {}
            try:
                op.before()
                with tracer.span("pass") as root:
                    cpu0 = spans.tree_cpu_s() if args.trace else 0.0
                    t0 = time.perf_counter()
                    out = op.body(extra)
                    dt = time.perf_counter() - t0
                    if args.trace:
                        extra["process.cpu_s"] = spans.tree_cpu_s() - cpu0
                op.check(out)
            except checks.CheckFailed as e:
                failed += 1
                correct = False
                failures.append({"op": op.kind, "check": str(e)})
                continue
            except Exception as e:  # the op failed; the run goes on
                failed += 1
                failures.append({"op": op.kind, "error": error_line(e)})
                traceback.print_exc(file=sys.stderr)
                continue
            log.append([op.kind, dt])
            if op.kind in times:
                times[op.kind].append(dt)
            passes.append((op.kind, root, extra))
        peak_rss = spans.tree_peak_rss_mb() if args.trace else 0.0
    finally:
        stop_spark(spark)

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "rounds": rounds, "host_probe": probe,
        "setup": {"gen_s": gen_s, "session_s": session_s, "catalog_s": catalog_s},
        "passes": log, "failures": failures,
    }))
    missing = [k for k, v in times.items() if not v]
    if missing:
        print(f"perfbench: no successful {', '.join(missing)} pass", file=sys.stderr)
        return 1
    if args.trace:
        stats = spans.fold_event_log(spans.event_log_file(events))
        metrics = {n: {"value": v, "unit": unit(n)} for n, v in per_layer(tracer, passes, stats, peak_rss).items()}
    else:
        setup_s = statistics.median(gen_s) + session_s + catalog_s
        values = {
            "setup_s": setup_s,
            "first_s": times["first"][0],
            "cold_s": statistics.median(times["cold"]),
            "repeat_s": statistics.median(times["repeat"]),
        }
        metrics = {n: {"value": v, "unit": "s"} for n, v in values.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mover_spark", "__init__.py")):
        print("perfbench: run from the repository root; mover_spark/ is not here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_dir = os.path.join(root, RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, RUNS_DIR))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
