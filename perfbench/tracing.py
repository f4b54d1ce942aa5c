"""Measurement plumbing: a ``/proc`` process-tree sampler, per-layer spans,
and a fold of Spark's event log into per-span task metrics.

Standard library only. The process tree is this process plus every
descendant: the Spark JVM, the PySpark daemon and its Python workers.
Spark's executor CPU time leaves out Python-worker CPU, so the ``/proc``
figures are the ones that see the whole cost of a pandas-UDF layer.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")
_MB = 1024.0 * 1024.0


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # fields after the parenthesised command name, which may hold spaces
        rest = raw[raw.rindex(b")") + 2 :].split()
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(name)] = (int(rest[1]), ticks)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes that map it. Forked Python workers share most of
    their daemon's pages, and a child the JVM is starting shares the JVM's
    whole address space until it execs; summing RSS would count those
    pages once per process, and how many such processes exist at a sample
    is a matter of timing."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pids(root: int, table: dict | None = None) -> set[int]:
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = set(), [root]
    while stack:
        pid = stack.pop()
        if pid in seen or pid not in table:
            continue
        seen.add(pid)
        stack.extend(children.get(pid, ()))
    return seen


class ProcTree:
    """CPU seconds and resident memory of one process tree.

    CPU is read on demand (``cpu_s``) at span and run boundaries; memory is
    sampled by a background thread so that the peak between two
    ``reset_peak`` calls is seen."""

    def __init__(self, interval_s: float = 0.25):
        self.root = os.getpid()
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-rss", daemon=True)

    def cpu_s(self) -> float:
        table = _proc_table()
        return sum(table[p][1] for p in tree_pids(self.root, table)) / _CLK

    def _sample(self) -> None:
        mem = sum(_pss_bytes(p) for p in tree_pids(self.root))
        with self._lock:
            self._peak = max(self._peak, mem)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "ProcTree":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_rss_mb(self) -> float:
        self._sample()
        with self._lock:
            return self._peak / _MB


@dataclass
class Span:
    layer: str
    index: int
    t0: float
    cpu0: float
    t1: float = 0.0
    cpu1: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench/{self.layer}/{self.index}"


class Tracer:
    """Counts layer calls (attempted; a failed one raises and ends the run);
    when ``enabled``, also records one span per call
    with its wall time, process-tree CPU and Spark job group. Spans stay in
    memory until the run ends. ``overhead_s`` is the time the spans' own
    bookkeeping took inside the timed region."""

    def __init__(self, spark, proc: ProcTree, enabled: bool):
        self.sc = spark.sparkContext
        self.proc = proc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.attempted = 0
        self.overhead_s = 0.0

    @contextmanager
    def span(self, layer: str):
        self.attempted += 1
        sp = None
        if self.enabled:
            b0 = time.time()
            sp = Span(layer, len(self.spans), 0.0, self.proc.cpu_s())
            self.sc.setJobGroup(sp.group, layer)
            sp.t0 = time.time()
            self.overhead_s += sp.t0 - b0
        try:
            yield sp
        finally:
            if sp is not None:
                sp.t1 = time.time()
                sp.cpu1 = self.proc.cpu_s()
                self.sc.setJobGroup("perfbench/other", "outside layer spans")
                self.spans.append(sp)
                self.overhead_s += time.time() - sp.t1


# --- event log fold -----------------------------------------------------------


@dataclass
class _Task:
    stage: int
    secs: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    failed: bool


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the single application log in ``log_dir``
    (uncompressed, non-rolling: one JSON object per line)."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(os.path.join(log_dir, files[0]), encoding="utf8") as f:
        return [json.loads(line) for line in f if line.strip()]


def fold_spans(events: list[dict], spans: list[Span]) -> dict[int, dict]:
    """Per span index: task metrics of the jobs the span ran.

    A job belongs to the span whose job group it carries. Jobs that driver
    threads started inside a layer call carry no group (PySpark threads do
    not inherit local properties), so those are placed by submission time
    instead; layer calls run one at a time, so the windows do not overlap.
    """
    by_group = {sp.group: sp.index for sp in spans}
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    tasks: list[_Task] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            idx = by_group.get(group)
            if idx is None:
                t = ev["Submission Time"] / 1000.0
                idx = next((sp.index for sp in spans if sp.t0 <= t <= sp.t1), None)
            if idx is not None:
                job_span[job] = idx
            for stage in ev.get("Stage IDs", []):
                stage_job.setdefault(stage, job)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                _Task(
                    stage=ev["Stage ID"],
                    secs=(info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    spill=m.get("Disk Bytes Spilled", 0),
                    failed=bool(info.get("Failed")),
                )
            )
    out = {sp.index: {"jobs": 0, "tasks": [], "stages": {}} for sp in spans}
    for job, idx in job_span.items():
        out[idx]["jobs"] += 1
    for t in tasks:
        idx = job_span.get(stage_job.get(t.stage, -1))
        if idx is None:
            continue
        out[idx]["tasks"].append(t)
        out[idx]["stages"].setdefault(t.stage, []).append(t)
    return out


def layer_metrics(spans: list[Span], folded: dict[int, dict]) -> dict[str, dict]:
    """Sum a layer's spans into ``<layer>.<metric>`` values."""
    layers: dict[str, dict] = {}
    for sp in spans:
        f = folded[sp.index]
        acc = layers.setdefault(
            sp.layer,
            {"wall_s": 0.0, "proc_cpu_s": 0.0, "jobs": 0, "tasks": [], "stages": [], "rows_out": 0},
        )
        acc["wall_s"] += sp.t1 - sp.t0
        acc["proc_cpu_s"] += sp.cpu1 - sp.cpu0
        acc["jobs"] += f["jobs"]
        acc["tasks"].extend(f["tasks"])
        acc["stages"].extend(f["stages"].values())
        acc["rows_out"] += sp.counts.get("rows_out", 0)
    out = {}
    for layer, acc in layers.items():
        ts = acc["tasks"]
        out[layer] = {
            "wall_s": acc["wall_s"],
            "proc_cpu_s": acc["proc_cpu_s"],
            "exec_cpu_s": sum(t.cpu_s for t in ts),
            "gc_s": sum(t.gc_s for t in ts),
            "shuffle_write_mb": sum(t.shuffle_write for t in ts) / _MB,
            "spill_mb": sum(t.spill for t in ts) / _MB,
            "jobs": acc["jobs"],
            "tasks": len(ts),
            "task_skew": _skew(acc["stages"]),
            "failed_tasks": sum(t.failed for t in ts),
            "rows_out": acc["rows_out"],
            "max_task_s": max((t.secs for t in ts), default=0.0),
            "shuffle_stages": sum(
                1 for st in acc["stages"] if any(t.shuffle_write for t in st)
            ),
        }
    return out


def _skew(stages: list[list[_Task]]) -> float:
    """max / median task time of the stage with the most task time."""
    if not stages:
        return 0.0
    big = max(stages, key=lambda st: sum(t.secs for t in st))
    med = statistics.median(t.secs for t in big)
    return max(t.secs for t in big) / med if med > 0 else 1.0
