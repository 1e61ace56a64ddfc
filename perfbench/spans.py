"""Spans around the program's layers, Spark job groups, and the fold of
Spark's event log into per-layer metrics.

A span records the wall time of one call into a layer and tags every
Spark job launched inside it with a job group of its own. After the run,
the event log is folded per job group, so each span gets its job count
and the task metrics of its jobs. Untraced runs use ``Tracer(None)``,
whose spans cost one function call and record nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    kind: str  # pass kind: setup, first, cold, repeat or revisit
    group: str
    parent: "Span | None"
    t0: float
    t1: float = 0.0
    children: list = field(default_factory=list)


class Tracer:
    """Records nested spans. ``sc_getter`` returns the live SparkContext or
    None (before the session exists); ``None`` in its place disables
    tracing."""

    def __init__(self, sc_getter=None):
        self.enabled = sc_getter is not None
        self._sc = sc_getter
        self.kind = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, group: str | None) -> None:
        sc = self._sc()
        if sc is not None:
            sc.setLocalProperty(GROUP_PROP, group)

    @contextlib.contextmanager
    def span(self, name: str):
        """Open a span unless tracing is off or the innermost open span has
        the same name (the benchmark opens an operator's span around the
        call and the collect; the wrapper inside must not nest a copy)."""
        if not self.enabled or (self._stack and self._stack[-1].name == name):
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.kind, f"perfbench-{len(self.spans)}", parent, time.time())
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._set_group(parent.group if parent is not None else None)


#: (module, attribute path, span name): each function is wrapped where the
#: program looks it up, so calls between layers are seen too (for example
#: ``semantic_dedup`` calling ``connected_components``, or ``Engine.extract``
#: calling ``extract_closure`` through the engine module's namespace).
TRACED = [
    ("mover_spark.session", "get_spark", "session.get_spark"),
    ("mover_spark.catalog", "Catalog.__init__", "catalog.Catalog"),
    ("mover_spark.engine", "Engine.extract", "engine.extract"),
    ("mover_spark.engine", "Engine.load", "engine.load"),
    ("mover_spark.engine", "extract_closure", "closure.extract_closure"),
    ("mover_spark.engine", "sanitize_df", "sanitize.sanitize_df"),
    ("mover_spark.sources.jsonio", "write_envelope", "jsonio.write_envelope"),
    ("mover_spark.sources.jsonio", "read_envelopes", "jsonio.read_envelopes"),
    ("mover_spark.operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("mover_spark.operators.dedup", "connected_components", "dedup.connected_components"),
    ("mover_spark.operators.dedup", "containment_lsh", "dedup.containment_lsh"),
    ("mover_spark.operators.dedup", "write_signature_index", "dedup.write_signature_index"),
    ("mover_spark.operators.dedup", "dedup_against_index", "dedup.dedup_against_index"),
    (
        "mover_spark.operators.dedup",
        "append_to_signature_index",
        "dedup.append_to_signature_index",
    ),
    ("mover_spark.operators.similarity", "semantic_dedup", "similarity.semantic_dedup"),
]


def install(tracer: Tracer) -> None:
    """Wrap every TRACED function in a span of ``tracer``."""
    import importlib

    for mod_name, path, span_name in TRACED:
        owner = importlib.import_module(mod_name)
        *outer, attr = path.split(".")
        for part in outer:
            owner = getattr(owner, part)
        fn = getattr(owner, attr)

        def wrapper(*args, __fn=fn, __name=span_name, **kwargs):
            with tracer.span(__name):
                return __fn(*args, **kwargs)

        setattr(owner, attr, functools.wraps(fn)(wrapper))


# ---------------------------------------------------------------------------
# event log fold
# ---------------------------------------------------------------------------

MB = 1024 * 1024


@dataclass
class GroupStats:
    jobs: list = field(default_factory=list)  # (submit_s, complete_s)
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    worker_init_s: float = 0.0
    worker_run_s: float = 0.0


#: SQL metric names (lower case) of the Python UDF / mapInPandas operators
#: that report worker start-up and run time; the values are milliseconds.
PY_INIT = ("time to start python workers", "time to initialize python workers")
PY_RUN = ("time to run python workers",)


def event_log_file(log_dir: str) -> str:
    """The single uncompressed event log the run's application wrote."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def fold_event_log(path: str) -> dict[str | None, GroupStats]:
    """Per job group: job intervals and summed task metrics."""
    stats: dict[str | None, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str | None] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[int, str | None] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get(GROUP_PROP)
                job_group[ev["Job ID"]] = g
                job_submit[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                stats[job_group.get(jid)].jobs.append(
                    (job_submit.get(jid, 0.0), ev["Completion Time"] / 1000.0)
                )
            elif kind == "SparkListenerTaskEnd":
                st = stats[stage_group.get(ev["Stage ID"])]
                st.tasks += 1
                m = ev.get("Task Metrics") or {}
                st.task_run_s += m.get("Executor Run Time", 0) / 1000.0
                st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_mb += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                st.spill_mb += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = str(acc.get("Name", "")).lower()
                    try:
                        upd = float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    if name in PY_INIT:
                        st.worker_init_s += upd / 1000.0
                    elif name in PY_RUN:
                        st.worker_run_s += upd / 1000.0
    return stats


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def pass_metrics(root: Span, stats: dict) -> dict[str, float]:
    """Per-layer metrics of one pass, from its root span and the folded log.
    Span metrics are inclusive (a span's jobs include its children's);
    a span name met twice in one pass (one write per table) is summed."""
    out: dict[str, float] = defaultdict(float)
    spans, stack = [], [root]
    while stack:
        s = stack.pop()
        spans.append(s)
        stack.extend(s.children)

    def inclusive_jobs(s: Span) -> int:
        return len(stats[s.group].jobs) + sum(inclusive_jobs(c) for c in s.children)

    for s in spans:
        if s is root:
            continue
        if s.parent is not None and s.parent.name == s.name:
            continue
        out[f"{s.name}.s"] += s.t1 - s.t0
        out[f"{s.name}.jobs"] += inclusive_jobs(s)
    all_jobs = [iv for s in spans for iv in stats[s.group].jobs]
    out["spark.jobs"] = len(all_jobs)
    out["spark.driver_gap_s"] = (root.t1 - root.t0) - _covered(all_jobs, root.t0, root.t1)
    for s in spans:
        g = stats[s.group]
        out["spark.tasks"] += g.tasks
        out["spark.task_run_s"] += g.task_run_s
        out["spark.task_cpu_s"] += g.task_cpu_s
        out["spark.gc_s"] += g.gc_s
        out["spark.shuffle_write_mb"] += g.shuffle_write_mb
        out["spark.shuffle_read_mb"] += g.shuffle_read_mb
        out["spark.spill_mb"] += g.spill_mb
        out["python.worker_init_s"] += g.worker_init_s
        out["python.worker_run_s"] += g.worker_run_s
    return dict(out)


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------


def _tree_pids() -> list[int]:
    """This process and all of its descendants (the JVM and its Python
    workers), read from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(name)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree.extend(kids)
        frontier.extend(kids)
    return tree


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree so far, children that
    already ended and were waited for included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident set."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except (OSError, ValueError):
            continue
    return total_kb / 1024.0


def storage_mb(sc) -> float:
    """Spark storage (memory + disk) held by cached and checkpointed RDDs."""
    infos = sc._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / MB
